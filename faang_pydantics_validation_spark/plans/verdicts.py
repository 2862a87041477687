"""Verdict aggregation, report rendering, export projection — the Spark
analogs of the reference's summary/report/export stages
(base_validator.py:115-125,196-267; unified_validator.py:146-165,252-269).
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules.memo import memo


def _verdict_columns(partition_col: str) -> SimpleNamespace:
    """verdicts()' Columns, built once per SparkContext (rules/memo)."""

    def build() -> SimpleNamespace:
        c = SimpleNamespace()
        c.totals = (
            F.count(F.lit(1)).alias("total_turns"),
            F.countDistinct("conv_id").alias("n_conversations"),
        )
        c.is_turn = F.col("scope") == "turn"
        c.turn_key = tuple(map(F.col, [partition_col, "conv_id", "turn_idx"]))
        c.per_turn = (
            F.max((F.col("severity") == "error").cast("int")).alias("has_error"),
            F.max((F.col("severity") == "warning").cast("int")).alias("has_warning"),
        )
        c.turn_agg = (
            F.sum("has_error").alias("error_turns"),
            F.sum(((F.col("has_warning") == 1) & (F.col("has_error") == 0)).cast("int")).alias(
                "warning_only_turns"
            ),
        )
        c.is_conv = F.col("scope") == "conv"
        c.conv_agg = F.count(F.lit(1)).alias("relationship_errors")
        c.out = (
            c.turn_key[0],
            *map(F.col, ["total_turns", "n_conversations"]),
            (F.col("total_turns") - F.col("error_turns")).alias("valid_turns"),
            *map(F.col, ["error_turns", "warning_only_turns", "relationship_errors"]),
            F.when(
                (F.col("error_turns") > 0) | (F.col("relationship_errors") > 0), F.lit("fail")
            )
            .when(F.col("warning_only_turns") > 0, F.lit("pass_with_warnings"))
            .otherwise(F.lit("pass"))
            .alias("verdict"),
        )
        return c

    return memo(("verdicts", partition_col), build)


def verdicts(
    facts: DataFrame,
    violations: DataFrame,
    partition_col: str = "ds",
) -> DataFrame:
    """Per-partition pass/fail verdicts (G1/G2).

    Semantics mirror base_validator.py:132-159: a turn with any error is
    invalid; warnings alone leave it valid-with-warnings; conversation-
    scope violations are counted separately as relationship_errors
    (base_validator.py:167-188). One hash-agg pass over violations + one
    metadata-cheap count over facts.
    """
    c = _verdict_columns(partition_col)
    pc = c.turn_key[0]
    totals = facts.groupBy(pc).agg(*c.totals)
    per_turn = violations.where(c.is_turn).groupBy(*c.turn_key).agg(*c.per_turn)
    turn_agg = per_turn.groupBy(pc).agg(*c.turn_agg)
    conv_agg = violations.where(c.is_conv).groupBy(pc).agg(c.conv_agg)
    out = (
        totals.join(turn_agg, on=partition_col, how="left")
        .join(conv_agg, on=partition_col, how="left")
        .na.fill(
            {"error_turns": 0, "warning_only_turns": 0, "relationship_errors": 0}
        )
    )
    return out.select(*c.out)


def verdicts_fast(
    flags: DataFrame,
    partition_col: str = "ds",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """verdicts() computed from per-row boolean severity flags
    (rules/compiler.rules_flags) instead of exploded violation rows — for
    rulesets with NO conversation-scope rules (relationship_errors is 0 by
    construction, exactly like callers that overwrite it with lit(0)).

    Value-identical to verdicts(facts, compile_row_rules(...)) for the
    same rules (asserted in tests/test_verdicts_fast.py, including
    duplicated (conv_id, turn_idx) keys where both copies violate):
    - classic per_turn aggregates only keys PRESENT in violations; keys
      with no violation contribute 0 to every sum — here they carry
      he=hw=0 and contribute 0 identically;
    - total_turns = sum of per-key row counts == count(*) over facts;
    - n_conversations = countDistinct over the keyed rows == over facts.

    Why it exists (optimization r6, guide §4.1/§1): the explode path
    builds struct<rule_id,severity,observed> per rule, packs an array and
    runs a CodegenFallback higher-order NULL-filter — measured ~12us/row
    on the events verdict query at sf1.0; the flag path is two boolean
    columns inside whole-stage codegen and ONE two-level aggregation pass
    (no separate totals scan of the fact table). Same recipe as
    plans/fused.py's fast_verdicts, packaged for the composable path.

    `flags` schema: (partition_col, *key_cols, has_error, has_warning)."""
    keyed = flags.groupBy(partition_col, *key_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(F.col("has_error").cast("int")).alias("__he"),
        F.max(F.col("has_warning").cast("int")).alias("__hw"),
    )
    out = keyed.groupBy(partition_col).agg(
        F.sum("__n").alias("total_turns"),
        F.countDistinct(key_cols[0]).alias("n_conversations"),
        F.sum("__he").alias("error_turns"),
        F.sum(((F.col("__hw") == 1) & (F.col("__he") == 0)).cast("int")).alias(
            "warning_only_turns"
        ),
    )
    return out.select(
        partition_col,
        "total_turns",
        "n_conversations",
        (F.col("total_turns") - F.col("error_turns")).alias("valid_turns"),
        "error_turns",
        "warning_only_turns",
        F.lit(0).cast("long").alias("relationship_errors"),
        F.when(F.col("error_turns") > 0, F.lit("fail"))
        .when(F.col("warning_only_turns") > 0, F.lit("pass_with_warnings"))
        .otherwise(F.lit("pass"))
        .alias("verdict"),
    )


_ROLLUP_SUMS = (
    "total_turns",
    "n_conversations",
    "valid_turns",
    "error_turns",
    "warning_only_turns",
    "relationship_errors",
)


def verdict_rollup(verdict_rows: list) -> dict:
    """G2: grand-total rollup across partitions — the analog of
    unified_validator.py:199-205,224-231 total_summary — over the
    (collected, one row per partition) verdict table. SQL aggregate
    semantics: over zero partitions every sum is None."""

    def total(values) -> int | None:
        return sum(values) if verdict_rows else None

    return {
        "n_partitions": len(verdict_rows),
        **{k: total(r[k] for r in verdict_rows) for k in _ROLLUP_SUMS},
        "failed_partitions": total(int(r["verdict"] == "fail") for r in verdict_rows),
    }


def rule_counts(violations: DataFrame) -> list[dict]:
    """Per-(rule_id, severity) violation counts, most frequent first: one
    aggregate action. The few result rows are sorted on the driver (a
    Spark orderBy would add a sampling and a shuffle job)."""
    rows = violations.groupBy("rule_id", "severity").agg(F.count(F.lit(1)).alias("n"))
    return sorted(
        (r.asDict() for r in rows.collect()),
        key=lambda r: (-r["n"], r["rule_id"] or "", r["severity"] or ""),
    )


def write_results_json(
    path: str,
    verdict_df: DataFrame,
    violations: DataFrame,
    max_violation_rows: int = 10000,
) -> dict:
    """S5 analog: dump {summary, verdicts, violations, report} to one JSON
    file (main.py:79-87 writes validation_results.json). Violations are
    capped — at 10^12-turn scale the full violation set lives in the
    parquet sink (checkpoint.py), not in a driver-side JSON.

    Three actions: the verdict collect, the per-rule counts and the capped
    violation rows. Returns the payload, so a caller can reuse the
    collected verdicts and counts instead of recomputing them."""
    import json

    # one row per partition: sorted on the driver, like the rule counts
    verdict_rows = [
        {**r.asDict(), "ds": str(r["ds"])}
        for r in sorted(verdict_df.collect(), key=lambda r: (r["ds"] is not None, r["ds"]))
    ]
    rollup = verdict_rollup(verdict_rows)
    counts = rule_counts(violations)
    vio_rows = [
        {**r.asDict(), "ds": str(r["ds"])}
        for r in violations.orderBy("conv_id", "turn_idx", "rule_id")
        .limit(max_violation_rows)
        .collect()
    ]
    payload = {
        "total_summary": rollup,
        "verdicts": verdict_rows,
        "violations_by_rule": counts,
        "violations": vio_rows,
        "violations_truncated": len(vio_rows) >= max_violation_rows,
        "report": render_report(verdict_rows, counts),
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return payload


def render_report(verdict_rows: list, rule_counts: list) -> str:
    """Human report over the (small, collected) verdict table — the analog
    of base_validator.py:196-267's per-type report. Driver-side string
    formatting only; all heavy lifting happened in the aggregations."""
    lines = ["=" * 62, "VALIDATION REPORT", "=" * 62]
    for r in sorted(verdict_rows, key=lambda r: str(r["ds"])):
        lines.append(
            f"\npartition {r['ds']}: {r['verdict'].upper()}\n"
            f"  turns: {r['total_turns']} total, {r['valid_turns']} valid, "
            f"{r['error_turns']} with errors, {r['warning_only_turns']} warnings-only\n"
            f"  conversations: {r['n_conversations']}, "
            f"relationship errors: {r['relationship_errors']}"
        )
    if rule_counts:
        lines.append("\nviolations by rule:")
        for r in sorted(rule_counts, key=lambda r: (-r["n"], r["rule_id"])):
            lines.append(f"  {r['rule_id']:<22} {r['severity']:<8} {r['n']}")
    lines.append("=" * 62)
    return "\n".join(lines)


def _valid_turns(facts: DataFrame, violations: DataFrame) -> DataFrame:
    """Facts rows whose (conv_id, turn_idx) key carries no turn-scope
    error: an anti-join against the distinct error-bearing keys."""
    is_error, keys = memo(
        ("error_turn_keys",),
        lambda: (
            (F.col("scope") == "turn") & (F.col("severity") == "error"),
            (F.col("conv_id"), F.col("turn_idx")),
        ),
    )
    bad_keys = violations.where(is_error).select(*keys).distinct()
    return facts.join(bad_keys, on=["conv_id", "turn_idx"], how="left_anti")


def export_valid(
    facts: DataFrame,
    violations: DataFrame,
    partition_col: str = "ds",
) -> DataFrame:
    """S7 analog: project VALID turns into an export shape, with the
    term->URL expansion the reference does per record
    (validation_utils.py:18-31 -> obo PURL). Anti-join against
    error-bearing turns; stable ordering by (conv_id, turn_idx)."""
    return _valid_turns(facts, violations).select(
        "conv_id",
        "turn_idx",
        partition_col,
        "role",
        "text",
        "ts",
        F.when(
            F.col("tool").isNotNull(),
            F.concat(
                F.lit("http://example.org/tools/"), F.regexp_replace("tool", ":", "_")
            ),
        ).alias("tool_url"),
    )


def _term_to_url(term) -> "F.Column":
    """validation_utils.py:18-31 / organism_validator.py:37-45: '' for
    blank/'restricted access', else one '_'->':' normalization and an OBO
    PURL with ':'->'_'."""
    from ..rules.library import norm_term_colon

    t = F.trim(term.cast("string"))
    return F.when(
        t.isNull() | (t == "") | (t == "restricted access"), F.lit("")
    ).otherwise(
        F.concat(
            F.lit("http://purl.obolibrary.org/obo/"),
            F.regexp_replace(norm_term_colon(t), ":", "_"),
        )
    )


def export_valid_structured(
    facts: DataFrame,
    violations: DataFrame,
    partition_col: str = "ds",
) -> DataFrame:
    """S7, full structural analog of export_to_biosample_format
    (organism_validator.py:36-95 via unified_validator.py:252-269): each
    VALID turn becomes a nested
        {characteristics: {name: [{text[, ontologyTerms][, unit]}...]},
         relationships: [{type, target}]}
    record. Characteristics with no value are NULL structs (dropped by
    to_json, matching the reference's key omission); the conversation
    membership is the relationship edge, as child_of is in the reference.
    Pure column expressions — the nesting costs no shuffle."""
    cols = memo(("export_structured", partition_col), lambda: _export_columns(partition_col))
    return _valid_turns(facts, violations).select(*cols)


def _export_columns(partition_col: str) -> tuple:
    """export_valid_structured's projection (built once, rules/memo)."""
    text_entry = F.array(F.struct(F.col("text").cast("string").alias("text")))
    role_entry = F.when(
        F.col("role").isNotNull() & (F.trim("role") != ""),
        F.array(F.struct(F.col("role").cast("string").alias("text"))),
    )
    tool_entry = F.when(
        F.col("tool").isNotNull() & (F.trim("tool") != ""),
        F.array(
            F.struct(
                F.col("tool").cast("string").alias("text"),
                F.array(_term_to_url(F.col("tool"))).alias("ontologyTerms"),
            )
        ),
    )
    ts_entry = F.array(
        F.struct(
            F.col("ts").cast("string").alias("text"),
            F.lit("YYYY-MM-DD HH:MM:SS").alias("unit"),
        )
    )
    characteristics = F.struct(
        role_entry.alias("role"),
        text_entry.alias("text"),
        tool_entry.alias("tool"),
        ts_entry.alias("timestamp"),
    )
    relationships = F.array(
        F.struct(F.lit("member of").alias("type"), F.col("conv_id").alias("target"))
    )
    return (
        *map(F.col, ["conv_id", "turn_idx", partition_col]),
        F.struct(
            characteristics.alias("characteristics"),
            relationships.alias("relationships"),
        ).alias("export_format"),
    )


def export_organism_biosample(organisms: DataFrame) -> DataFrame:
    """S7, byte-level analog of the organism BioSamples export
    (organism_validator.py:36-95 via unified_validator.py:252-269):
    each organism row becomes
        (sample_name, biosample_format: {characteristics: {...},
                                         relationships: [...]})
    with the reference's exact semantics — material/organism/sex always
    present with one OBO PURL each; 'birth date' (with unit-or-'') and
    'breed' only when non-blank; 'health status' entries URL-ified WITHOUT
    underscore->colon normalization (organism_validator.py:81-86 only does
    ':'->'_'); 'child of' relationships only for non-blank parents.
    Conditional key OMISSION maps to NULL struct fields, which to_json
    drops — serializing biosample_format reproduces the reference payload
    value-for-value (asserted against validation_results.json's
    biosample_exports in test_reference_parity). Pure column expressions,
    no shuffle.

    Expects the parity column naming: sample_name, material, term,
    organism, organism_term, sex, sex_term, birth_date, unit, breed,
    breed_term, health_status array<struct<text,term>>,
    child_of array<string>.

    Implemented via the declarative export-spec compiler — see
    plans/exports.py, where all FIVE reference export projections live
    as data (the export analog of rules-as-data)."""
    from .exports import ORGANISM_EXPORT, biosample_export

    return biosample_export(organisms, ORGANISM_EXPORT)
