"""Output oracles: compare the engine's outputs with the generator's
expected-violations manifest (datagen.gen_transcripts documents it as exact)."""

from __future__ import annotations

from collections import Counter

VERDICT_FIELDS = (
    "total_turns",
    "n_conversations",
    "valid_turns",
    "error_turns",
    "warning_only_turns",
    "relationship_errors",
    "verdict",
)


def violation_key(row: dict) -> tuple:
    """(conv_id, turn_idx, rule_id, severity, scope, observed), the columns
    the engine's own tests compare."""
    t = row["turn_idx"]
    o = row["observed"]
    return (
        row["conv_id"],
        None if t is None else int(t),
        row["rule_id"],
        row["severity"],
        row["scope"],
        None if o is None else str(o),
    )


def compare_violations(got: list[dict], want: list[dict]) -> list[str]:
    """Multiset difference on `violation_key`; an empty list means equal."""
    g = Counter(violation_key(r) for r in got)
    w = Counter(violation_key(r) for r in want)
    problems = [f"missing {k} x{n}" for k, n in (w - g).items()]
    problems += [f"unexpected {k} x{n}" for k, n in (g - w).items()]
    return sorted(problems)


def rule_counts(rows: list[dict]) -> dict[tuple[str, str], int]:
    return dict(Counter((r["rule_id"], r["severity"]) for r in rows))


def expected_verdicts(turns: list[dict], manifest: list[dict]) -> dict[str, dict]:
    """Per-partition verdict rows implied by the fact rows and the manifest.
    A turn with an error is invalid; warnings alone leave it valid; conv-scope
    rows are relationship errors (the semantics of plans.verdicts.verdicts)."""
    conv_ds: dict[str, str] = {}
    total: Counter = Counter()
    convs: dict[str, set] = {}
    for r in turns:
        ds = str(r["ds"])
        conv_ds[r["conv_id"]] = ds
        total[ds] += 1
        convs.setdefault(ds, set()).add(r["conv_id"])
    err: dict[str, set] = {ds: set() for ds in total}
    warn: dict[str, set] = {ds: set() for ds in total}
    rel: Counter = Counter()
    for v in manifest:
        ds = conv_ds[v["conv_id"]]
        if v["scope"] == "conv":
            rel[ds] += 1
        elif v["severity"] == "error":
            err[ds].add((v["conv_id"], v["turn_idx"]))
        else:
            warn[ds].add((v["conv_id"], v["turn_idx"]))
    out = {}
    for ds in total:
        e = len(err[ds])
        w = len(warn[ds] - err[ds])
        verdict = "fail" if e or rel[ds] else "pass_with_warnings" if w else "pass"
        out[ds] = {
            "total_turns": total[ds],
            "n_conversations": len(convs[ds]),
            "valid_turns": total[ds] - e,
            "error_turns": e,
            "warning_only_turns": w,
            "relationship_errors": rel[ds],
            "verdict": verdict,
        }
    return out


def compare_verdicts(
    got: list[dict], want: dict[str, dict], fields: tuple[str, ...] = VERDICT_FIELDS
) -> list[str]:
    """Compare verdict rows (one per `ds`) field by field."""
    by_ds = {str(r["ds"]): r for r in got}
    problems = []
    if sorted(by_ds) != sorted(want):
        problems.append(f"partitions {sorted(by_ds)} != {sorted(want)}")
    for ds in sorted(set(by_ds) & set(want)):
        for f in fields:
            if by_ds[ds][f] != want[ds][f]:
                problems.append(f"{ds}.{f}: {by_ds[ds][f]!r} != {want[ds][f]!r}")
    return problems


def report_rule_counts(report: str) -> dict[tuple[str, str], int]:
    """Per-rule counts from the 'violations by rule:' block of
    plans.verdicts.render_report."""
    counts: dict[tuple[str, str], int] = {}
    lines = report.splitlines()
    if "violations by rule:" not in lines:
        return counts
    for line in lines[lines.index("violations by rule:") + 1 :]:
        parts = line.split()
        if len(parts) != 3 or not parts[2].isdigit():
            break
        counts[(parts[0], parts[1])] = int(parts[2])
    return counts
