"""The process-wide Column memo (rules/memo): a repeated fused build reuses
its Columns and makes far fewer py4j calls; every input the Columns depend
on (ruleset order, allowed transitions, dims present, the SparkContext)
misses the memo and gives the same outputs as a build from scratch."""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import textwrap
from collections import Counter

import pytest
from pyspark.sql import functions as F

from faang_pydantics_validation_spark.plans import rulesets
from faang_pydantics_validation_spark.plans.fused import validate_transcripts_fused
from faang_pydantics_validation_spark.rules import memo

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CMP = ["conv_id", "turn_idx", "ds", "rule_id", "severity", "scope", "observed"]


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j commands the driver sends while the block runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting(*args, **kwargs):
        n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


def _outputs(facts, dims, rules) -> tuple:
    """Violations, classic verdicts and fast verdicts of one fused build."""
    res = validate_transcripts_fused(facts, dims, scalar_rules=rules)
    fast = validate_transcripts_fused(facts, dims, scalar_rules=rules, fast_verdicts=True)
    return (
        Counter(tuple(r) for r in res.violations.select(*CMP).collect()),
        sorted(tuple(r) for r in res.verdicts.collect()),
        sorted(tuple(r) for r in fast.verdicts.drop("n_conversations").collect()),
    )


def test_second_fused_build_hits_memo(spark, dataset):
    rules = list(reversed(rulesets.transcript_scalar_rules()))
    facts = dataset["transcripts"]
    s0 = memo.stats()
    with py4j_calls(spark) as first:
        validate_transcripts_fused(facts, dataset, scalar_rules=rules)
    s1 = memo.stats()
    with py4j_calls(spark) as second:
        validate_transcripts_fused(facts, dataset, scalar_rules=rules)
    s2 = memo.stats()
    assert s1["misses"] > s0["misses"]
    assert s2["misses"] == s1["misses"] and s2["hits"] > s1["hits"]
    assert second[0] * 4 < first[0], (first[0], second[0])


def _rotated(dataset):
    rules = rulesets.transcript_scalar_rules()
    return rules[1:] + rules[:1], dataset


def _fewer_transitions(dataset):
    allowed = dataset["allowed_transitions"].where(
        ~((F.col("prev_role") == "user") & (F.col("role") == "assistant"))
    )
    return None, {**dataset, "allowed_transitions": allowed}


def _no_dim_tools(dataset):
    return None, {k: v for k, v in dataset.items() if k != "dim_tools"}


@pytest.mark.parametrize(
    "variant", [_rotated, _fewer_transitions, _no_dim_tools], ids=lambda f: f.__name__[1:]
)
def test_changed_input_misses_memo_and_matches_fresh_build(spark, dataset, variant):
    facts = dataset["transcripts"]
    base = _outputs(facts, dataset, None)
    rules, dims = variant(dataset)
    s0 = memo.stats()
    got = _outputs(facts, dims, rules)
    assert memo.stats()["misses"] > s0["misses"]
    memo.clear()
    assert got == _outputs(facts, dims, rules)
    if variant is _rotated:
        assert got == base  # same rules, same violation set
    else:
        assert got[0] != base[0]  # the changed input changes the violations


def test_context_restart_misses_memo(tmp_path):
    """A SparkContext stop/start in one JVM (the CLI, then the next job in
    the same process) rebuilds every Column under the new context."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from collections import Counter
        from faang_pydantics_validation_spark.datagen import gen_transcripts
        from faang_pydantics_validation_spark.plans.fused import validate_transcripts_fused
        from faang_pydantics_validation_spark.rules import memo
        from faang_pydantics_validation_spark.session import get_spark

        def run():
            spark = get_spark(master="local[1]", shuffle_partitions=2)
            t = gen_transcripts(spark, n_convs=30, base_turns=8, hot_mult=3, seed=7)
            res = validate_transcripts_fused(t["transcripts"], t)
            out = (Counter(tuple(r) for r in res.violations.collect()),
                   sorted(tuple(r) for r in res.verdicts.collect()))
            return spark, out

        spark, a = run()
        owner, misses = memo._owner, memo.stats()["misses"]
        spark.stop()
        spark, b = run()
        assert memo._owner is spark.sparkContext._jsc and memo._owner is not owner
        assert memo.stats()["misses"] > misses
        assert a == b and sum(a[0].values()) > 0
        spark.stop()
        print("restart-ok")
        """
    )
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", "TMPDIR": str(tmp_path)}
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=600
    )
    assert "restart-ok" in proc.stdout, proc.stderr[-3000:]


def test_memo_threads_get_one_value_per_key(spark):
    """More threads than cores race on a few keys with a tiny switch
    interval: every call is counted once, and all callers of a key get the
    same cached object (a racing second build is dropped)."""
    import threading

    memo.clear()
    keys = [("stress", i) for i in range(4)]
    got: dict = {k: [] for k in keys}
    s0 = memo.stats()

    def worker(j: int) -> None:
        for i in range(100):
            k = keys[(i + j) % len(keys)]
            got[k].append(memo.memo(k, object))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(j,)) for j in range(4 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    s1 = memo.stats()
    calls = 100 * len(threads)
    assert s1["hits"] + s1["misses"] - s0["hits"] - s0["misses"] == calls
    assert sum(map(len, got.values())) == calls
    for k in keys:
        assert len({id(v) for v in got[k]}) == 1, k
