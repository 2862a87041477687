"""Synchronous small-batch validation: the engine's second entry point,
mirroring the reference's serving surface (app.py:60-153 — POST /validate
takes a JSON payload of records and returns {status, results, report};
POST /validate-file is the same over an uploaded file).

There is no HTTP server here by design: the Spark-native equivalent of a
synchronous validation request is an in-session call (or the
jobs/validate_json.py CLI over a JSON file). The plan is the SAME fused
single-shuffle suite the batch path runs — a few-hundred-row
createDataFrame just executes it in milliseconds — so serving and batch
can never drift semantically.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TURN_FIELDS = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "ds")
_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, ds date"
)


def _coerce_ts(v: Any) -> dt.datetime | None:
    if v is None or isinstance(v, dt.datetime):
        return v
    return dt.datetime.fromisoformat(str(v))


def _coerce_ds(v: Any, ts: dt.datetime | None) -> dt.date | None:
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return v
    if v is not None:
        return dt.date.fromisoformat(str(v))
    return ts.date() if ts is not None else None


def validate_json_batch(
    spark: SparkSession,
    records: list[dict],
    dims: dict | None = None,
    rules: list | None = None,
    max_rows_returned: int = 10000,
) -> dict:
    """Validate a list of turn records synchronously; return the full
    response payload (the analog of app.py's ValidationResponse).

    Unknown record fields fail fast with table-scope violations — the
    per-record equivalent of the reference's pydantic extra='forbid'
    (P17); the column contract is TURN_FIELDS.
    """
    unknown = sorted(set().union(*(r.keys() for r in records)) - set(TURN_FIELDS)) if records else []
    if unknown:
        return {
            "status": "error",
            "message": f"unknown fields: {', '.join(unknown)}",
            "violations": [
                {
                    "conv_id": None,
                    "turn_idx": None,
                    "ds": None,
                    "rule_id": "R_unknown_column",
                    "severity": "error",
                    "scope": "table",
                    "observed": u,
                }
                for u in unknown
            ],
            "verdicts": [],
            "report": "",
            "exports": [],
        }

    # malformed values (unparseable ts/ds strings, wrong-typed fields) are a
    # REQUEST error, not a crash: the reference's serving surface wraps the
    # whole validation in except-Exception and returns a structured error
    # payload (app.py:92-98,144-152); mirror that so the CLI's rc-2
    # error contract holds instead of dying with a traceback
    try:
        rows = []
        for i, r in enumerate(records):
            try:
                ts = _coerce_ts(r.get("ts"))
                rows.append(
                    (
                        r.get("conv_id"),
                        r.get("turn_idx"),
                        r.get("role"),
                        r.get("text"),
                        r.get("tool"),
                        ts,
                        _coerce_ds(r.get("ds"), ts),
                    )
                )
            except (ValueError, TypeError) as e:
                raise ValueError(f"record {i}: {e}") from e
        facts = spark.createDataFrame(rows, _DDL)
    except (ValueError, TypeError) as e:
        return {
            "status": "error",
            "message": f"malformed records: {e}",
            "violations": [],
            "verdicts": [],
            "report": "",
            "exports": [],
        }

    from .plans.fused import validate_transcripts_fused
    from .plans.verdicts import export_valid_structured, render_report, rule_counts

    res = validate_transcripts_fused(
        facts, dims or {}, scalar_rules=rules, persist_violations=True
    )
    try:
        violations = [
            {**r.asDict(), "ds": str(r["ds"]) if r["ds"] is not None else None}
            for r in res.violations.orderBy("conv_id", "turn_idx", "rule_id", "observed")
            .limit(max_rows_returned)
            .collect()
        ]
        verdicts = [
            {**r.asDict(), "ds": str(r["ds"])} for r in res.verdicts.orderBy("ds").collect()
        ]
        if len(violations) < max_rows_returned:
            # the list is complete: count it, no extra Spark action
            n_by_rule = Counter((v["rule_id"], v["severity"]) for v in violations)
            counts = [
                {"rule_id": r, "severity": sev, "n": n}
                for (r, sev), n in sorted(n_by_rule.items())
            ]
        else:
            # the list hit the cap: count over the still-cached violations
            counts = rule_counts(res.violations)
        truncated = sum(r["n"] for r in counts) > len(violations)
        exports = [
            {
                "sample_name": f"{r['conv_id']}:{r['turn_idx']}",
                "export_format": r["export_format"],
            }
            for r in export_valid_structured(res.facts, res.violations)
            .select("conv_id", "turn_idx", F.to_json("export_format").alias("export_format"))
            .orderBy("conv_id", "turn_idx")
            .limit(max_rows_returned)
            .collect()
        ]
    finally:
        # repeated in-session serving calls must not accumulate cached
        # blocks for the life of the shared SparkSession
        res.violations.unpersist()
    import json as _json

    for e in exports:
        e["export_format"] = _json.loads(e["export_format"])
    return {
        "status": "success",
        "message": "Validation completed successfully",
        "verdicts": verdicts,
        "violations": violations,
        "violations_truncated": truncated,
        "report": render_report(verdicts, counts),
        "exports": exports,
    }
