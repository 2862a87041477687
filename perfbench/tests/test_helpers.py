"""Tests of the benchmark's own helpers: the tail-percentile rule, the
event-log counter parsing, span self time, the manifest oracles and the
dedup corpus answers."""

from __future__ import annotations

import json

import pytest

from perfbench import corpus, layers, oracle, probe
from perfbench.stats import tail_percentile


# --- tail percentile --------------------------------------------------------


@pytest.mark.parametrize(
    "n, p, beyond",
    [(19, None, None), (20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10), (99, 75.0, 24),
     (100, 90.0, 10), (200, 95.0, 10), (1000, 99.0, 10), (10000, 99.9, 10)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, p, beyond):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    got = tail_percentile(values)
    if p is None:
        assert got is None
        return
    assert (got["p"], got["beyond"], got["n"]) == (p, beyond, n)
    # nearest rank: exactly `beyond` samples are larger than the value
    assert sum(v > got["value"] for v in values) == beyond


# --- event-log counters -----------------------------------------------------


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, launch, finish, **metrics):
    m = {
        "Executor Run Time": metrics.get("run", 0),
        "Executor CPU Time": metrics.get("cpu", 0),
        "JVM GC Time": 0,
        "Input Metrics": {"Records Read": metrics.get("rows", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("shuffle", 0)},
        "Memory Bytes Spilled": metrics.get("spill", 0),
        "Disk Bytes Spilled": 0,
        "Output Metrics": {"Bytes Written": metrics.get("out", 0)},
    }
    return _ev(
        "SparkListenerTaskEnd",
        **{"Stage ID": stage, "Stage Attempt ID": 0,
           "Task Info": {"Launch Time": launch, "Finish Time": finish}, "Task Metrics": m},
    )


EVENT_LOG = [
    _ev("SparkListenerApplicationStart", **{"App Name": "x"}),
    _ev("SparkListenerJobStart", **{
        "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
        "Stage Infos": [{"Stage Name": "collect at /src/cli.py:10"}],
        "Properties": {"spark.jobGroup.id": "op0:1", "callSite.short": "collect at /src/cli.py:10"}}),
    _task(0, 1000, 1100, run=100, cpu=50_000_000, rows=30, shuffle=2048),
    _task(0, 1000, 1300, run=300, cpu=150_000_000, rows=70, shuffle=2048),
    _task(1, 1300, 1400, run=100, cpu=10_000_000),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
    # overlaps job 0 and reuses stage 1, which it skips
    _ev("SparkListenerJobStart", **{
        "Job ID": 1, "Submission Time": 1400, "Stage IDs": [1, 2],
        "Stage Infos": [{"Stage Name": "parquet at NativeMethodAccessorImpl.java:0"}],
        "Properties": {"spark.jobGroup.id": "op0:2"}}),
    _task(2, 1500, 1600, run=100, cpu=20_000_000, out=4096, spill=512),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1700}),
    _ev("SparkListenerJobStart", **{
        "Job ID": 2, "Submission Time": 5000, "Stage IDs": [3],
        "Properties": {"spark.jobGroup.id": "op1:0"}}),
    _task(3, 5000, 5050, run=50, cpu=1_000_000),
    _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 5100}),
]


def test_event_log_counters_per_job():
    jobs = probe.parse_event_log(EVENT_LOG)
    assert [j["job_id"] for j in jobs] == [0, 1, 2]
    j0, j1, _ = jobs
    assert (j0["stages"], j0["tasks"], j0["run_ms"], j0["cpu_ns"]) == (2, 3, 500, 210_000_000)
    assert (j0["input_records"], j0["shuffle_write_bytes"]) == (100, 4096)
    assert j0["callsite"] == "collect at /src/cli.py:10"
    # a writer job without a Python call site is named by its first stage
    assert j1["callsite"].startswith("parquet at")
    assert (j1["stages"], j1["tasks"], j1["output_bytes"], j1["spill_bytes"]) == (1, 1, 4096, 512)


def test_group_counters_sum_jobs_and_union_their_wall():
    jobs = probe.parse_event_log(EVENT_LOG)
    c = probe.group_counters(jobs, {"op0:1", "op0:2"})
    assert (c["jobs"], c["tasks"], c["cpu_ns"]) == (2, 4, 230_000_000)
    assert c["job_wall_ms"] == 700  # [1000, 1500] and [1400, 1700] overlap
    assert probe.group_counters(jobs, {"op1:0"})["job_wall_ms"] == 100
    assert probe.group_counters(jobs, {"nothing"})["jobs"] == 0


def test_task_skew_reads_the_heaviest_stage():
    jobs = probe.parse_event_log(EVENT_LOG)
    assert probe.task_skew(jobs[:1]) == pytest.approx(300 / 200)


def test_job_layer_from_bytes_written_and_engine_source(tmp_path):
    src = tmp_path / "cli.py"
    src.write_text("rows = schema_check(facts).collect()\nn = df.count()\n")

    def job(callsite, out=0):
        return {"callsite": callsite, "output_bytes": out}

    assert layers.job_layer(job(f"collect at {src}:1")) == "schema.check"
    assert layers.job_layer(job(f"count at {src}:2")) == "actions"
    # a read names its job like a write does; only bytes written tell them apart
    assert layers.job_layer(job("parquet at NativeMethodAccessorImpl.java:0")) == "actions"
    assert layers.job_layer(job("parquet at NativeMethodAccessorImpl.java:0", out=10)) == "sink.write"
    assert layers.job_layer(job("")) == "other"


def test_summarize_reports_every_per_layer_metric():
    jobs = probe.parse_event_log(EVENT_LOG)
    spans = [
        {"id": "op0:0", "name": "op", "parent": None, "trace": "op0", "start": 0.9, "end": 2.0, "turns": 50},
        {"id": "op0:1", "name": "fused.build", "parent": "op0:0", "trace": "op0", "start": 0.95, "end": 1.0},
        {"id": "op0:2", "name": "verdicts.results_json", "parent": "op0:0", "trace": "op0", "start": 1.4, "end": 1.8},
    ]
    samples = [{"wall_s": 1.1, "cpu_s": 2.3, "jit_s": 0.4}]
    report = layers.summarize(spans, jobs, samples, [{"wall_s": 1.0}], 5.0, 20)
    m = report["metrics"]
    assert list(m) == list(layers.UNITS)
    assert (m["spark.jobs"], m["spark.tasks"]) == (2, 4)
    assert m["spark.job_wall_s"] == pytest.approx(0.7)
    assert m["driver.gap_s"] == pytest.approx(1.1 - 0.7)
    assert m["fused.build_s"] == pytest.approx(0.05)
    assert m["verdicts.results_json_s"] == pytest.approx(0.4)
    assert report["layers"]["checkpoint.run_s"] == 0 and report["layers"]["checkpoint.jobs"] == 0
    assert m["spark.rows_scanned_per_turn"] == pytest.approx(100 / 50)
    assert m["spark.cpu_share"] == pytest.approx(0.23 / 2.3)
    assert m["jvm.jit_cpu_s"] == pytest.approx(0.4)
    # job 1 is a parquet writer: 300 ms of wall and 4096 bytes for 50 turns
    assert m["sink.write_s"] == pytest.approx(0.3)
    assert m["sink.bytes_per_turn"] == pytest.approx(4096 / 50)
    assert m["trace.overhead_ratio"] == pytest.approx(1.1)
    assert report["unattributed_jobs"] == 1  # job 2 ran in group op1:0
    assert report["by_span"]["verdicts.results_json"]["jobs"] == 1


def test_jobs_of_a_layer_include_its_child_spans():
    jobs = probe.parse_event_log(EVENT_LOG)
    spans = [
        {"id": "op0:0", "name": "op", "parent": None, "trace": "op0", "start": 0.0, "end": 3.0, "turns": 10},
        {"id": "op0:1", "name": "checkpoint.run", "parent": "op0:0", "trace": "op0", "start": 0.5, "end": 2.0},
        {"id": "op0:2", "name": "pipeline.build", "parent": "op0:1", "trace": "op0", "start": 0.6, "end": 0.9},
    ]
    m = layers.summarize(spans, jobs, [{"wall_s": 3.0, "cpu_s": 1.0, "jit_s": 0.0}],
                         [{"wall_s": 3.0}], 1.0, 0)["layers"]
    assert m["checkpoint.jobs"] == 2  # op0:1 directly and op0:2 below it
    assert m["checkpoint.run_s"] == pytest.approx(1.5)
    assert m["pipeline.build_s"] == pytest.approx(0.3)


def test_dedup_stage_walls_run_between_the_pipeline_counts():
    def span(name, end):
        return {"name": name, "end": end}

    spans = [span("dedup.count", 1.0), span("dedup.count", 3.0), span("fused.build", 3.5),
             span("dedup.count", 7.5), span("dedup.count", 8.0)]
    walls = layers._dedup_stage_walls(spans)
    assert walls == {"dedup.exact_s": 2.0, "dedup.minhash_s": 4.5, "text.quality_s": 0.5}
    assert set(layers._dedup_stage_walls(spans[:3]).values()) == {0.0}


def test_patch_method_traces_calls_from_the_named_caller_only():
    class Frame:
        def count(self):
            return 3

    def run_dedup_pipeline(df):
        return df.count()

    tracer = probe.Tracer()
    tracer.patch_method(Frame, "count", "run_dedup_pipeline", "dedup.count")
    try:
        assert run_dedup_pipeline(Frame()) == 3 and Frame().count() == 3
    finally:
        tracer.unpatch()
    assert [s["name"] for s in tracer.spans] == ["dedup.count"]
    assert "count" in Frame.__dict__ and Frame().count() == 3 and len(tracer.spans) == 1


# --- spans ------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 5.0},  # overlaps b
        {"id": "d", "parent": "c", "start": 3.5, "end": 4.5},
    ]
    st = probe.self_times(spans)
    assert st["a"] == pytest.approx(6.0)
    assert st["c"] == pytest.approx(1.0)
    assert probe.descendants(spans, "a") == {"a", "b", "c", "d"}


def test_tracer_nests_spans_and_restores_patched_functions():
    import perfbench.stats as mod

    orig = mod.nearest_rank
    tracer = probe.Tracer()
    tracer.patch([("perfbench.stats", "nearest_rank", "stats.nearest_rank")])
    try:
        tracer.trace_id = "op0"
        with tracer.span("op"):
            assert mod.nearest_rank([1.0, 2.0, 3.0], 50) == (2.0, 2)
    finally:
        tracer.unpatch()
    assert mod.nearest_rank is orig and not tracer.patched
    op, inner = tracer.spans
    assert (inner["name"], inner["parent"], inner["trace"]) == ("stats.nearest_rank", op["id"], "op0")


# --- oracles ----------------------------------------------------------------


def _v(conv, turn, rule, sev="error", scope="turn", obs="x"):
    return {"conv_id": conv, "turn_idx": turn, "rule_id": rule, "severity": sev,
            "scope": scope, "observed": obs}


def test_compare_violations_is_a_multiset_comparison():
    want = [_v("c1", 1, "R_a"), _v("c1", 1, "R_a"), _v("c2", None, "R_conv", scope="conv")]
    assert oracle.compare_violations(list(reversed(want)), want) == []
    problems = oracle.compare_violations(want[1:], want)
    assert len(problems) == 1 and problems[0].startswith("missing")
    problems = oracle.compare_violations(want + [_v("c3", 2, "R_b")], want)
    assert len(problems) == 1 and problems[0].startswith("unexpected")


def test_expected_verdicts_counts_turns_at_key_grain():
    turns = [{"conv_id": c, "turn_idx": t, "ds": d}
             for c, d in (("a", "d1"), ("b", "d2"), ("c", "d3")) for t in range(3)]
    manifest = [
        _v("b", 1, "R_w", sev="warning"),
        _v("c", 1, "R_e"), _v("c", 1, "R_e2"), _v("c", 2, "R_w", sev="warning"),
        _v("c", 1, "R_w", sev="warning"),
        _v("c", None, "R_conv", scope="conv"),
    ]
    got = oracle.expected_verdicts(turns, manifest)
    assert got["d1"]["verdict"] == "pass"
    assert (got["d2"]["verdict"], got["d2"]["warning_only_turns"]) == ("pass_with_warnings", 1)
    d3 = got["d3"]
    assert (d3["error_turns"], d3["warning_only_turns"], d3["relationship_errors"]) == (1, 1, 1)
    assert (d3["valid_turns"], d3["verdict"]) == (2, "fail")


def test_report_rule_counts_round_trips_render_report():
    from faang_pydantics_validation_spark.plans.verdicts import render_report

    counts = [{"rule_id": "R_a", "severity": "error", "n": 7},
              {"rule_id": "R_b", "severity": "warning", "n": 2}]
    report = render_report([], counts)
    assert oracle.report_rule_counts(report) == {("R_a", "error"): 7, ("R_b", "warning"): 2}
    assert oracle.report_rule_counts(render_report([], [])) == {}


def test_oracles_agree_with_the_engine_on_a_small_dataset(spark):
    """sf0.001-sized check that the oracles' reading of the manifest matches
    what the engine reports on generated data."""
    from faang_pydantics_validation_spark.datagen import gen_transcripts
    from faang_pydantics_validation_spark.plans.fused import validate_transcripts_fused

    tables = gen_transcripts(spark, n_convs=200, base_turns=20, hot_mult=5, seed=3)
    turns = [r.asDict() for r in tables["transcripts"].select("conv_id", "turn_idx", "ds").collect()]
    manifest = [r.asDict() for r in tables["expected_violations"].collect()]
    res = validate_transcripts_fused(tables["transcripts"], tables)
    got = [r.asDict() for r in res.violations.collect()]
    assert oracle.compare_violations(got, manifest) == []
    verdicts = [r.asDict() for r in res.verdicts.collect()]
    want = oracle.expected_verdicts(turns, manifest)
    assert {v["verdict"] for v in want.values()} == {"pass", "pass_with_warnings", "fail"}
    assert oracle.compare_verdicts(verdicts, want) == []


# --- dedup corpus -----------------------------------------------------------


def test_corpus_plants_exact_and_near_copies():
    docs = corpus.make_corpus(seed=4, n_docs=60)
    assert len({d["doc_id"] for d in docs}) == len(docs) > 60
    by_orig = {}
    for d in docs:
        by_orig.setdefault(d["orig"], []).append(d)
    # every copy normalizes to its original or differs from it in one word
    for group in by_orig.values():
        base = corpus.normalize(group[0]["text"]).split(" ")
        for d in group[1:]:
            words = corpus.normalize(d["text"]).split(" ")
            assert len(words) == len(base) and sum(a != b for a, b in zip(words, base)) <= 1
    assert any(corpus.normalize(d["text"]) != d["text"] for d in docs)  # respelled copies


def test_corpus_answers_follow_keep_lowest_id():
    docs = [
        {"doc_id": 5, "text": "a b c d e f"},
        {"doc_id": 2, "text": " A  b c d e f "},  # exact copy of 5, smaller id
        {"doc_id": 9, "text": "a b c d e g"},  # near copy
        {"doc_id": 7, "text": "x y z"},
    ]
    pairs = corpus.ngram_pairs(docs, threshold=0.05, max_df=None)
    assert pairs == {(2, 5): 1.0, (2, 9): 0.6, (5, 9): 0.6}
    # a shingle in more than max_df documents is dropped before sizes are taken
    assert corpus.ngram_pairs(docs, threshold=0.05, max_df=2) == {(2, 5): 1.0}
    answer = corpus.pipeline_answer(docs, near_threshold=0.5)
    assert answer["kept"] == [2, 7]
    assert [s["kept"] for s in answer["stages"]] == [3, 2, 2]


def test_corpus_answers_agree_with_the_engine(spark):
    """The n-gram pairs and the dedup pipeline's survivors on a small corpus."""
    from faang_pydantics_validation_spark.jobs.dedup_cli import run_dedup_pipeline
    from faang_pydantics_validation_spark.operators.dedup import ngram_jaccard_pairs

    docs = corpus.make_corpus(seed=4, n_docs=80)
    df = spark.createDataFrame([(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string")
    got = {(r[0], r[1]): r[2] for r in ngram_jaccard_pairs(df, threshold=0.05).collect()}
    assert got == corpus.ngram_pairs(docs, threshold=0.05, max_df=1000)
    run = run_dedup_pipeline(spark, df, threshold=0.8)
    kept = sorted(r[0] for r in run["kept"].select("doc_id").collect())
    run["cleanup"]()
    answer = corpus.pipeline_answer(docs, near_threshold=0.8)
    assert (kept, run["stages"]) == (answer["kept"], answer["stages"])
