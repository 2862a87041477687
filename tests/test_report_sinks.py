from __future__ import annotations

import json

from faang_pydantics_validation_spark.plans.pipeline import validate_transcripts
from faang_pydantics_validation_spark.plans.verdicts import (
    render_report,
    verdict_rollup,
    write_results_json,
)


def test_rollup_and_json_sink(spark, dataset, tmp_path):
    res = validate_transcripts(dataset["transcripts"], dataset)
    per_part = res.verdicts.collect()
    roll = verdict_rollup([r.asDict() for r in per_part])
    assert roll["total_turns"] == sum(r["total_turns"] for r in per_part)
    assert roll["failed_partitions"] == sum(1 for r in per_part if r["verdict"] == "fail")
    assert roll["n_partitions"] == 4

    out = str(tmp_path / "validation_results.json")
    write_results_json(out, res.verdicts, res.violations)
    with open(out) as f:
        payload = json.load(f)
    assert payload["total_summary"]["total_turns"] == roll["total_turns"]
    assert len(payload["verdicts"]) == 4
    assert payload["violations"] and not payload["violations_truncated"]
    assert "VALIDATION REPORT" in payload["report"]
    by_rule = {r["rule_id"] for r in payload["violations_by_rule"]}
    assert "R_role_required" in by_rule and "R_conv_known" in by_rule


def test_render_report_shape(spark, dataset):
    res = validate_transcripts(dataset["transcripts"], dataset)
    rows = [r.asDict() for r in res.verdicts.collect()]
    txt = render_report(rows, [])
    assert txt.count("partition ") == 4
    assert "FAIL" in txt and "PASS" in txt
