"""validate_cli --out --report computes each result once: a pinned Spark
job count, and outputs equal to what the DataFrame APIs give."""

from __future__ import annotations

import contextlib
import io
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from faang_pydantics_validation_spark.jobs import validate_cli
from faang_pydantics_validation_spark.plans.fused import validate_transcripts_fused
from faang_pydantics_validation_spark.plans.verdicts import render_report

DIMS = ("dim_roles", "dim_tools", "dim_conversations", "allowed_transitions")

# Spark jobs of one `--out --report` run on the test dataset (local[4],
# 4 shuffle partitions, AQE on). The CLI used to run 52: the verdict table
# computed 4 times, the rule counts twice and an extra violations.count().
CLI_JOBS = 25


def test_cli_out_report_job_count_and_outputs(spark, dataset, tmp_path, monkeypatch, spark_jobs):
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    data, out = str(tmp_path / "data"), str(tmp_path / "out")
    dataset["transcripts"].write.partitionBy("ds").parquet(f"{data}/transcripts")
    for n in DIMS:
        dataset[n].write.parquet(f"{data}/{n}")

    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        rc, jobs = spark_jobs(
            lambda: validate_cli.main(["--input", data, "--out", out, "--report"])
        )
    assert rc == 0
    assert jobs == CLI_JOBS, f"validate_cli ran {jobs} Spark jobs, pinned {CLI_JOBS}"

    # the same results through the DataFrame APIs
    facts = spark.read.parquet(f"{data}/transcripts")
    dims = {n: spark.read.parquet(f"{data}/{n}") for n in DIMS}
    res = validate_transcripts_fused(facts, dims)
    verdicts = [
        {**r.asDict(), "ds": str(r["ds"])} for r in res.verdicts.orderBy("ds").collect()
    ]
    rollup = res.verdicts.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        *[
            F.sum(c).alias(c)
            for c in ("total_turns", "n_conversations", "valid_turns", "error_turns",
                      "warning_only_turns", "relationship_errors")
        ],
        F.sum((F.col("verdict") == "fail").cast("long")).alias("failed_partitions"),
    ).first().asDict()
    counts = [
        r.asDict()
        for r in res.violations.groupBy("rule_id", "severity").count()
        .withColumnRenamed("count", "n").orderBy(F.desc("n"), "rule_id").collect()
    ]
    n_violations = res.violations.count()

    with open(f"{out}/validation_results.json") as f:
        payload = json.load(f)
    assert payload["total_summary"] == rollup
    assert payload["verdicts"] == verdicts
    assert payload["violations_by_rule"] == counts
    assert payload["report"] == render_report(verdicts, counts)
    assert spark.read.parquet(f"{out}/violations").count() == n_violations

    lines = stdout.getvalue().strip().splitlines()
    assert "\n".join(lines[:-1]) == render_report(verdicts, counts)
    summary = json.loads(lines[-1])
    assert summary["partitions"] == len(verdicts) == rollup["n_partitions"]
    assert summary["failed"] == rollup["failed_partitions"]
    assert summary["violations"] == n_violations
