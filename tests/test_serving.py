"""Synchronous serving surface (E2/E3 — reference app.py:60-153) and the
structured BioSamples-shape export (S7 — organism_validator.py:36-95)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from faang_pydantics_validation_spark.serving import validate_json_batch

BATCH = [
    {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hello",
     "tool": None, "ts": "2026-03-01T10:00:00"},
    {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "hi there",
     "tool": "TOOL_0007", "ts": "2026-03-01T10:00:05"},
    # blank role -> R_role_required error
    {"conv_id": "c2", "turn_idx": 0, "role": "", "text": "x",
     "tool": None, "ts": "2026-03-01T11:00:00"},
]


def test_validate_json_batch_response_shape(spark):
    resp = validate_json_batch(spark, BATCH)
    assert resp["status"] == "success"
    assert len(resp["verdicts"]) == 1 and resp["verdicts"][0]["verdict"] == "fail"
    assert resp["verdicts"][0]["total_turns"] == 3
    rules = {v["rule_id"] for v in resp["violations"]}
    assert "R_role_required" in rules
    assert "VALIDATION REPORT" in resp["report"]
    # only the two valid turns are exported
    assert [e["sample_name"] for e in resp["exports"]] == ["c1:0", "c1:1"]


def test_export_structured_biosample_shape(spark):
    resp = validate_json_batch(spark, BATCH)
    by_name = {e["sample_name"]: e["export_format"] for e in resp["exports"]}
    # turn with a tool: term gets '_'->':' normalization then an OBO PURL
    t1 = by_name["c1:1"]
    assert t1["characteristics"]["tool"] == [
        {"text": "TOOL_0007",
         "ontologyTerms": ["http://purl.obolibrary.org/obo/TOOL_0007"]}
    ]
    assert t1["characteristics"]["role"] == [{"text": "assistant"}]
    assert t1["characteristics"]["timestamp"][0]["unit"] == "YYYY-MM-DD HH:MM:SS"
    assert t1["relationships"] == [{"type": "member of", "target": "c1"}]
    # turn without a tool: the characteristic key is OMITTED, not null —
    # matching the reference's conditional key emission
    t0 = by_name["c1:0"]
    assert "tool" not in t0["characteristics"]
    assert t0["characteristics"]["text"] == [{"text": "hello"}]


def test_unknown_fields_fail_fast(spark):
    bad = [{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "t",
            "tool": None, "ts": "2026-03-01T10:00:00", "typo_field": 1}]
    resp = validate_json_batch(spark, bad)
    assert resp["status"] == "error"
    assert resp["violations"][0]["rule_id"] == "R_unknown_column"
    assert resp["violations"][0]["observed"] == "typo_field"
    assert resp["exports"] == []


def test_term_url_sentinels(spark):
    from faang_pydantics_validation_spark.plans.verdicts import _term_to_url

    df = spark.createDataFrame(
        [("PATO_0000461",), ("PATO:0000461",), ("restricted access",), ("",), (None,)],
        "t string",
    ).select(_term_to_url(F.col("t")).alias("u"))
    assert [r["u"] for r in df.collect()] == [
        "http://purl.obolibrary.org/obo/PATO_0000461",
        "http://purl.obolibrary.org/obo/PATO_0000461",
        "",
        "",
        "",
    ]


def test_validate_json_cli(spark, tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    from faang_pydantics_validation_spark.jobs.validate_json import main

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    p = tmp_path / "batch.json"
    p.write_text(json.dumps(BATCH))
    assert main(["--json", str(p)]) == 1  # verdict fail -> rc 1
    good = [r for r in BATCH if r["conv_id"] == "c1"]
    p.write_text(json.dumps(good))
    assert main(["--json", str(p)]) == 0
    p.write_text("{not json")
    assert main(["--json", str(p)]) == 2


def test_malformed_records_return_structured_error(spark):
    """Unparseable ts/ds strings and wrong-typed fields are REQUEST errors
    (structured {'status': 'error'} payload, rc 2 via the CLI), never a
    traceback — mirroring the reference's except-Exception handler
    (app.py:92-98)."""
    bad_ts = [{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "t",
               "tool": None, "ts": "not-a-timestamp"}]
    resp = validate_json_batch(spark, bad_ts)
    assert resp["status"] == "error"
    assert "record 0" in resp["message"]
    assert resp["verdicts"] == [] and resp["exports"] == []

    bad_type = [{"conv_id": "c1", "turn_idx": "zero", "role": "user", "text": "t",
                 "tool": None, "ts": "2026-03-01T10:00:00"}]
    resp2 = validate_json_batch(spark, bad_type)
    assert resp2["status"] == "error"


def test_malformed_records_cli_rc2(spark, tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    from faang_pydantics_validation_spark.jobs.validate_json import main

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    p = tmp_path / "bad.json"
    p.write_text(json.dumps([{"conv_id": "c", "turn_idx": 0, "role": "u",
                              "text": "t", "tool": None, "ts": "31/02/2026"}]))
    assert main(["--json", str(p)]) == 2


def test_serving_unpersists_violations(spark):
    """Repeated in-session serving calls must not leak cached blocks into
    the shared SparkSession (the violations persist is released in a
    finally)."""
    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_cached()
    for _ in range(3):
        validate_json_batch(spark, BATCH)
    assert n_cached() == before


def test_report_counts_survive_truncated_violation_list(spark, spark_jobs):
    """More violations than max_rows_returned: the list is cut at the cap,
    violations_truncated is set, and the report still counts every
    violation (from an aggregate over the cached violations). Under the cap
    no extra Spark job runs."""
    batch = [
        {"conv_id": "c9", "turn_idx": i, "role": "", "text": "x", "tool": None,
         "ts": f"2026-03-01T11:00:0{i}"}
        for i in range(4)
    ]
    full, jobs_full = spark_jobs(lambda: validate_json_batch(spark, batch))
    cut, jobs_cut = spark_jobs(lambda: validate_json_batch(spark, batch, max_rows_returned=3))
    assert len(full["violations"]) > 3 and not full["violations_truncated"]
    assert len(cut["violations"]) == 3 and cut["violations_truncated"]
    assert cut["violations"] == full["violations"][:3]
    assert cut["report"] == full["report"]
    # the two requests differ only in the count aggregate
    assert jobs_cut > jobs_full
