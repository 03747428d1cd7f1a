"""Tests of the benchmark itself (no Spark session needed).

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pyarrow as pa
import pytest

import checks
import eventlog as EL
import gen
import layers
import run
import spans
from workloads import WORKLOADS
from c4_5decisiontreebasedonmapreduce_spark.operators.tree import (
    Condition,
    DecisionListModel,
    Rule,
)
from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
    parse_attributes_lines,
)

DATA = Path(__file__).resolve().parent / "data"
#: wall-clock window (epoch ms) of the training call the fixture recorded:
#: ``tree.train(max_depth=2)`` on 200 rows under job group ``call-0``,
#: followed by a noop scan under ``scan-0``
CALL_WINDOW = (1792213343812, 1792213348517)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.mark.parametrize("table", sorted(gen.TABLES))
def test_generator_is_deterministic(tmp_path, table):
    a = gen.generate(7, tmp_path / "a", table)
    b = gen.generate(7, tmp_path / "b", table)
    assert a == b
    c = gen.generate(8, tmp_path / "c", table)
    assert c["files"] != a["files"]
    # a complete manifest is reused, not regenerated
    data = gen.seed_dir(7, tmp_path / "a") / list(a["files"])[-1]
    data.write_bytes(b"x")
    assert gen.generate(7, tmp_path / "a", table) == a


def test_manifest_is_within_the_format_limits():
    m = run.manifest()
    assert run.manifest_errors(m) == []
    # the committed file is the one the code writes
    root = Path(run.__file__).resolve().parents[1]
    assert json.loads((root / "BENCHMARK.json").read_text()) == m
    m["workloads"][0]["why"] = "x" * 201
    assert run.manifest_errors(m)


def test_every_metric_name_and_unit_is_valid():
    names = [n for n, *_ in run.END_TO_END] + [n for n, *_ in layers.PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for _, unit, better, *_ in run.END_TO_END + layers.PER_LAYER:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit)
        assert better in ("lower", "higher")


def test_benchmark_json_matches_the_code():
    root = Path(run.__file__).resolve().parents[1]
    assert json.loads((root / "BENCHMARK.json").read_text()) == run.manifest()


# -- event log ---------------------------------------------------------

def _fixture_log() -> EL.EventLog:
    return EL.parse(EL.read_lines(DATA / "small_eventlog.jsonl"))


def test_eventlog_reads_zstd(tmp_path):
    lines = EL.read_lines(DATA / "small_eventlog.jsonl")
    path = tmp_path / "events_1_local-1.zstd"
    with pa.output_stream(str(path), compression="zstd") as out:
        out.write(("\n".join(lines) + "\n").encode())
    assert EL.read_lines(path) == lines
    assert EL.read_lines(tmp_path) == lines  # an eventlog_v2 directory


def test_eventlog_classifies_jobs_by_verb_and_file():
    log = _fixture_log()
    kinds = {(j.verb, j.source) for j in log.jobs.values()}
    assert ("first", "tree.py") in kinds  # the prologue scan
    assert ("toPandas", "tree.py") in kinds  # driver-path levels
    assert ("collect", "tree.py") in kinds  # the terminal level
    # eager checkpoints and sink writes have no call site; their verb
    # comes from the SQL execution
    assert ("localCheckpoint", "") in kinds
    assert ("save", "") in kinds
    assert all(j.succeeded and j.end_ms >= j.submit_ms
               for j in log.jobs.values())


def test_eventlog_assigns_jobs_to_calls():
    log = _fixture_log()
    jobs = sorted(log.jobs.values(), key=lambda j: j.job_id)
    calls = EL.assign_jobs(log, "call-0", CALL_WINDOW)
    assert [j for j in calls if j.group == "call-0"] == [
        j for j in jobs if j.group == "call-0"]
    # the one untagged job inside the window is the prologue's concurrent
    # checkpoint, started from an engine thread; the session's warm-up
    # jobs before the call and the scan after it stay out
    untagged = [j for j in calls if j.group is None]
    assert [j.verb for j in untagged] == ["localCheckpoint"]
    assert all(j.group != "scan-0" for j in calls)


def test_eventlog_totals_and_layer_metrics():
    log = _fixture_log()
    jobs = list(log.jobs.values())
    totals = EL.stage_totals(log, jobs)
    assert totals.tasks == sum(s.tasks for s in log.stages.values())
    assert totals.shuffle_write_bytes > 0
    assert totals.shuffle_read_bytes == totals.shuffle_write_bytes
    assert EL.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    call = EL.assign_jobs(log, "call-0", CALL_WINDOW)
    tracer = spans.Tracer()
    tracer.spans.append(spans.Span("tree.train", *(t / 1000 for t in CALL_WINDOW)))
    m = layers.call_metrics(log, call, tracer, CALL_WINDOW)
    assert set(m) - {"call_s"} | {"sources.scan_s", "sources.input_bytes",
                     "sources.rows", "session.start_s",
                     "process.peak_rss_mb",
                     "trace.overhead_ratio"} == {
        n for n, *_ in layers.PER_LAYER}
    assert m["tree.levels"] == 3
    assert m["tree.level_driver_path"] == 2
    assert m["tree.level_distributed_path"] == 1
    assert m["tree.prologue_s"] > 0 and m["tree.materialize_jobs"] == 2
    assert m["spark.jobs"] == len(call)
    assert 0 < m["tree.driver_s"] < (CALL_WINDOW[1] - CALL_WINDOW[0]) / 1000
    assert WORKLOADS["train_narrow"].layer_errors(m) == []
    assert WORKLOADS["train_wide"].layer_errors(m)  # no distributed level
    scan = [j for j in jobs if j.group == "scan-0"]
    s = layers.call_metrics(log, scan, spans.Tracer(), EL.job_interval(scan[0]))
    assert s["predict.job_s"] > 0 and s["spark.shuffle_write_bytes"] == 0
    assert WORKLOADS["score"].layer_errors(s) == []


def test_spans_install_and_undo():
    from c4_5decisiontreebasedonmapreduce_spark.operators import pruning, tree

    before = (tree.train, pruning.ebp_prune,
              DecisionListModel.prediction_column)
    tracer = spans.Tracer()
    undo = spans.install(tracer)
    try:
        assert tree.train is not before[0]
        pruning.ebp_prune(DecisionListModel(rules=[Rule((), "p", 0, 0)]))
        assert [s.name for s in tracer.spans] == ["pruning.ebp"]
    finally:
        undo()
    assert (tree.train, pruning.ebp_prune,
            DecisionListModel.prediction_column) == before


# -- correctness checks --------------------------------------------------

SCHEMA = parse_attributes_lines(["c:string:a,b", "x:numeric", "y:p,q"])
ROWS = [("a", 1.0, "p"), ("a", 2.0, "p"), ("a", 3.0, "q"),
        ("b", 1.0, "q"), ("b", 5.0, "q"), ("b", 6.0, "p")]


def _tsv(tmp_path) -> str:
    path = tmp_path / "t.tsv"
    path.write_text("".join(f"{c}\t{x}\t{y}\n" for c, x, y in ROWS))
    return str(path)


def _model() -> DecisionListModel:
    a, b = Condition("c", "==", "a"), Condition("c", "==", "b")
    return DecisionListModel(rules=[
        Rule((a, Condition("x", "<=", 2.0)), "p", 2, 2),
        Rule((a, Condition("x", ">", 2.0)), "q", 1, 2),
        Rule((b,), "q", 3, 1),
    ], label_col="y")


def test_leaf_check_passes_on_a_correct_model(tmp_path):
    assert checks.check_leaves(_model(), _tsv(tmp_path), SCHEMA, 6) == []


@pytest.mark.parametrize("corrupt", ["label", "n", "threshold"])
def test_leaf_check_fails_on_a_corrupted_model(tmp_path, corrupt):
    m = _model()
    r = m.rules[0]
    if corrupt == "label":
        m.rules[0] = Rule(r.conditions, "q", r.n, r.depth)
    elif corrupt == "n":
        m.rules[0] = Rule(r.conditions, r.label, r.n + 1, r.depth)
    else:
        m.rules[0] = Rule((r.conditions[0], Condition("x", "<=", 1.0)),
                          r.label, r.n, r.depth)
    assert checks.check_leaves(m, _tsv(tmp_path), SCHEMA, 6)


def test_fractional_check(tmp_path):
    path = tmp_path / "f.parquet"
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "c": ["a", "a", None, "b"], "x": [1.0, 2.0, 3.0, 4.0],
        "y": ["p", "p", "q", "q"],
    }), path)
    a, b = Condition("c", "==", "a"), Condition("c", "==", "b")
    good = DecisionListModel(rules=[
        Rule((a,), "p", 2 + 2 / 3, 1), Rule((b,), "q", 1 + 1 / 3, 1),
    ], label_col="y")
    assert checks.check_fractional(good, str(path), SCHEMA, 4) == []
    bad = DecisionListModel(rules=[
        Rule((a,), "p", 3.5, 1), Rule((b,), "q", 0.5, 1),
    ], label_col="y")
    assert checks.check_fractional(bad, str(path), SCHEMA, 4)


def test_duckdb_label_counts(tmp_path):
    path = tmp_path / "s.parquet"
    import pyarrow.parquet as pq

    c, x, y = zip(*ROWS)
    pq.write_table(pa.table({"c": c, "x": x, "y": y}), path)
    assert checks.label_counts(_model(), str(path), SCHEMA) == {
        "p": 2, "q": 4}
