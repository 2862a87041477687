"""The benchmark's workloads. Each builds its inputs from the seed (the
engine's datagen.write_dataset, or perfbench.corpus for documents), runs
one user-level operation per call of `op`, and checks that operation's
outputs against answers known from the generator.

Inputs are written once per (generator, parameters, seed) under
.bench_work/data/ and reused by later runs and by every workload with the
same generator parameters."""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import io
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import corpus, oracle

DIMS = ("dim_roles", "dim_tools", "dim_conversations", "allowed_transitions")

# One transcript set serves every transcript workload: 5k conversations
# over 4 days, about 145k turns, 1% hot (500-650 turns each).
TRANSCRIPTS = {"n_convs": 5000, "base_turns": 20, "hot_mult": 25, "n_days": 4}


def _read_table(path: str, columns: list[str] | None = None, where=None) -> list[dict]:
    table = pq.read_table(path, columns=columns, filters=where)
    cols = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        elif pa.types.is_dictionary(col.type):
            col = col.cast(pa.string())
        cols[name] = col
    return pa.table(cols).to_pylist()


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext({})


class Workload:
    name = ""
    generator = ""
    params: dict = {}
    # operations per round; a run measures whole rounds so that every run
    # sees the same input mix
    round_ops = 1
    # untimed operations in the set-up
    warmup_ops = 0
    # measure only the first operation of a fresh JVM: a batch job runs as
    # one spark-submit, so that is the operation its user waits for
    cold = False

    def __init__(self, seed: int, data_root: str, work_dir: str) -> None:
        self.seed = seed
        self.work_dir = work_dir
        key = json.dumps({"generator": self.generator, **self.params, "seed": seed}, sort_keys=True)
        self.data_dir = os.path.join(data_root, hashlib.sha256(key.encode()).hexdigest()[:16])
        self.key = key

    def cached(self) -> bool:
        return os.path.isfile(os.path.join(self.data_dir, "_COMPLETE"))

    def generate(self) -> None:
        """Write the inputs into a fresh directory, then move it into place."""
        tmp = self.data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        self._write(tmp)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(self.key)
        shutil.rmtree(self.data_dir, ignore_errors=True)
        os.replace(tmp, self.data_dir)

    def reset(self) -> None:
        """Called before each operation's clock starts."""


class TranscriptWorkload(Workload):
    generator = "datagen.write_dataset"
    params = TRANSCRIPTS

    def _write(self, path: str) -> None:
        from faang_pydantics_validation_spark import datagen
        from faang_pydantics_validation_spark.session import get_spark

        datagen.write_dataset(get_spark(), path, seed=self.seed, **self.params)

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, table)

    def load(self) -> None:
        """The manifest and each turn's (conv_id, ds), for the oracles."""
        self.manifest = _read_table(self.path("expected_violations"))
        self.turn_keys = _read_table(self.path("transcripts"), ["conv_id", "ds"])
        self.days = sorted({t["ds"] for t in self.turn_keys})

    def read_facts_and_dims(self):
        from faang_pydantics_validation_spark.session import get_spark

        spark = get_spark()
        dims = {n: spark.read.parquet(self.path(n)) for n in DIMS}
        return spark, spark.read.parquet(self.path("transcripts")), dims


class BatchValidate(TranscriptWorkload):
    """The validate_cli run users execute, then the one-action verdict
    collect and the drift pass over the same facts: scan and row rules,
    the conv_id exchange and window pass, verdict aggregation, parquet and
    JSON sinks, per-partition histograms."""

    name = "batch_validate"
    cold = True

    def load(self) -> None:
        super().load()
        self.want_verdicts = oracle.expected_verdicts(self.turn_keys, self.manifest)
        self.out = os.path.join(self.work_dir, "out")

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, tracer=None):
        """Unmodified `validate_cli.main --out --report`, then
        `validate_transcripts_fused(fast_verdicts=True).verdicts.collect()`
        and `transcript_drift(facts).collect()`.
        Returns (output for `check`, turns validated)."""
        from faang_pydantics_validation_spark.jobs import validate_cli
        from faang_pydantics_validation_spark.plans import drift_check, fused

        buf = io.StringIO()
        with _span(tracer, "validate_cli.main"), contextlib.redirect_stdout(buf):
            rc = validate_cli.main(["--input", self.data_dir, "--out", self.out, "--report"])
        # the CLI stopped its session; this starts the next one
        _, facts, dims = self.read_facts_and_dims()
        with _span(tracer, "fused.verdicts"):
            res = fused.validate_transcripts_fused(facts, dims, fast_verdicts=True)
            fast = [r.asDict() for r in res.verdicts.collect()]
        with _span(tracer, "drift_check.transcript_drift"):
            drift = [r.asDict() for r in drift_check.transcript_drift(facts).collect()]
        out = {"rc": rc, "stdout": buf.getvalue(), "fast": fast, "drift": drift}
        return out, len(self.turn_keys)

    def check(self, result) -> list[str]:
        if result["rc"] != 0:
            return [f"validate_cli exit code {result['rc']}"]
        problems = oracle.compare_violations(
            _read_table(os.path.join(self.out, "violations")), self.manifest
        )
        with open(os.path.join(self.out, "validation_results.json")) as f:
            payload = json.load(f)
        problems += oracle.compare_verdicts(payload["verdicts"], self.want_verdicts)
        want_counts = oracle.rule_counts(self.manifest)
        got_counts = {(r["rule_id"], r["severity"]): r["n"] for r in payload["violations_by_rule"]}
        if got_counts != want_counts:
            problems.append(f"results.json rule counts {got_counts} != {want_counts}")
        if oracle.report_rule_counts(result["stdout"]) != want_counts:
            problems.append("printed report rule counts differ from the manifest")
        summary = json.loads(result["stdout"].strip().splitlines()[-1])
        if summary["violations"] != len(self.manifest):
            problems.append(f"summary violations {summary['violations']} != {len(self.manifest)}")
        # fast_verdicts counts conversations with HyperLogLog++
        exact = tuple(f for f in oracle.VERDICT_FIELDS if f != "n_conversations")
        problems += ["fast_verdicts " + p for p in
                     oracle.compare_verdicts(result["fast"], self.want_verdicts, exact)]
        return problems + _check_drift(result["drift"], self.days)


class CheckpointDaily(TranscriptWorkload):
    """A checkpointed run over two ds partitions (the warnings-only day
    and the first day with errors) that is killed after the first and
    resumed, then load_results and the drift pass over all days: the
    composable plans.pipeline path, per-partition sinks, and reads of
    tails, manifest and facts. It should not move for fused-only changes."""

    name = "checkpoint_daily"
    cold = True

    def load(self) -> None:
        super().load()
        self.run_days = self.days[1:3]
        convs = {t["conv_id"] for t in self.turn_keys if t["ds"] in self.run_days}
        self.run_turns = sum(1 for t in self.turn_keys if t["ds"] in self.run_days)
        self.want_violations = [v for v in self.manifest if v["conv_id"] in convs]
        verdicts = oracle.expected_verdicts(self.turn_keys, self.manifest)
        self.want_verdicts = {ds: verdicts[ds] for ds in self.run_days}
        self.ckpt = os.path.join(self.work_dir, "checkpoint")

    def reset(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def op(self, tracer=None):
        """`run_with_checkpoint(fail_after=1)`, `run_with_checkpoint` again
        to resume, `load_results`, `transcript_drift`."""
        from pyspark.sql import functions as F

        from faang_pydantics_validation_spark.plans import checkpoint, drift_check

        spark, facts, dims = self.read_facts_and_dims()
        days = facts.where(F.col("ds").cast("string").isin(*self.run_days))
        with _span(tracer, "checkpoint.run"):
            killed = checkpoint.run_with_checkpoint(spark, days, dims, self.ckpt, fail_after=1)
        with _span(tracer, "checkpoint.run"):
            resumed = checkpoint.run_with_checkpoint(spark, days, dims, self.ckpt)
        with _span(tracer, "checkpoint.load_results"):
            loaded = checkpoint.load_results(spark, self.ckpt)
            violations = [r.asDict() for r in loaded["violations"].collect()]
            verdicts = [r.asDict() for r in loaded["verdicts"].collect()]
        with _span(tracer, "drift_check.transcript_drift"):
            drift = [r.asDict() for r in drift_check.transcript_drift(facts).collect()]
        out = {"killed": killed, "resumed": resumed, "violations": violations,
               "verdicts": verdicts, "drift": drift}
        return out, self.run_turns

    def check(self, result) -> list[str]:
        first, second = self.run_days
        problems = []
        calls = [(result["killed"], [first], []), (result["resumed"], [second], [first])]
        for i, (status, ran, skipped) in enumerate(calls):
            if (status["ran"], status["skipped"]) != (ran, skipped):
                problems.append(f"call {i}: ran {status['ran']} skipped {status['skipped']}")
        problems += oracle.compare_violations(result["violations"], self.want_violations)
        problems += oracle.compare_verdicts(result["verdicts"], self.want_verdicts)
        return problems + _check_drift(result["drift"], self.days)


class ServeRequests(TranscriptWorkload):
    """A closed loop with one client (each caller waits for its reply) of
    validate_json_batch requests holding whole conversations. Per-request
    fixed costs dominate; the scan and window work is small. A server is
    long-lived, so requests are measured after a warm-up request."""

    name = "serve_requests"
    # request sizes in turns, one round; the seed picks the conversations
    size_mix = (50, 500, 5000, 500)
    round_ops = len(size_mix)
    warmup_ops = 1
    n_requests = 8 * len(size_mix)

    def load(self) -> None:
        convs = pq.read_table(self.path("transcripts"), columns=["conv_id"])
        sizes = convs.group_by("conv_id").aggregate([("conv_id", "count")])
        n_turns = dict(zip(sizes["conv_id"].to_pylist(), sizes["conv_id_count"].to_pylist()))
        order = sorted(n_turns)
        rng = random.Random(self.seed)
        picks = []
        for i in range(self.n_requests):
            size = self.size_mix[i % len(self.size_mix)]
            picked, n = [], 0
            # whole conversations that fit the size, so a round's turn count
            # barely depends on the seed
            for c in rng.sample(order, len(order)):
                if n >= 0.9 * size:
                    break
                if n + n_turns[c] <= size:
                    picked.append(c)
                    n += n_turns[c]
            picks.append(picked)
        wanted = sorted({c for p in picks for c in p})
        where = pc.field("conv_id").isin(wanted)
        by_conv: dict[str, list] = {c: [] for c in wanted}
        for t in _read_table(self.path("transcripts"), where=where):
            by_conv[t["conv_id"]].append(t)
        manifest_by_conv: dict[str, list] = {c: [] for c in wanted}
        for v in _read_table(self.path("expected_violations"), where=where):
            manifest_by_conv[v["conv_id"]].append(v)
        self.requests = []
        for picked in picks:
            turns = [t for c in picked for t in by_conv[c]]
            self.requests.append(
                {
                    "records": [_json_record(t) for t in turns],
                    "turns": turns,
                    "manifest": [v for c in picked for v in manifest_by_conv[c]],
                }
            )
        self.next_request = 0
        self.dims = (None, None)  # (session, dimension DataFrames read in it)

    def op(self, tracer=None):
        """One validate_json_batch call on the next pre-built request."""
        from faang_pydantics_validation_spark import serving
        from faang_pydantics_validation_spark.session import get_spark

        spark = get_spark()
        if self.dims[0] is not spark:
            self.dims = (spark, {n: spark.read.parquet(self.path(n)) for n in DIMS})
        req = self.requests[self.next_request % len(self.requests)]
        self.next_request += 1
        with _span(tracer, "serving.validate_json_batch"):
            resp = serving.validate_json_batch(spark, req["records"], self.dims[1])
        return {"resp": resp, "req": req}, len(req["records"])

    def check(self, result) -> list[str]:
        resp, req = result["resp"], result["req"]
        if resp["status"] != "success":
            return [f"status {resp['status']}: {resp.get('message')}"]
        problems = oracle.compare_violations(resp["violations"], req["manifest"])
        want = oracle.expected_verdicts(req["turns"], req["manifest"])
        problems += oracle.compare_verdicts(resp["verdicts"], want)
        if oracle.report_rule_counts(resp["report"]) != oracle.rule_counts(req["manifest"]):
            problems.append("report rule counts differ from the manifest")
        return problems


class CurateDedup(Workload):
    """The document-curation pipeline (exact dedup, MinHash near-dup,
    quality filter) plus the n-gram Jaccard pair operator, on a corpus
    with planted exact and near duplicates."""

    name = "curate_dedup"
    generator = "perfbench.corpus.make_corpus"
    params = {"n_docs": 1500, "near_threshold": 0.8, "ngram_threshold": 0.05, "max_df": 1000}
    cold = True

    def _write(self, path: str) -> None:
        p = self.params
        docs = corpus.make_corpus(self.seed, p["n_docs"])
        os.makedirs(path)
        pq.write_table(
            pa.table({"doc_id": [d["doc_id"] for d in docs], "text": [d["text"] for d in docs]}),
            os.path.join(path, "docs.parquet"),
        )
        pairs = corpus.ngram_pairs(docs, p["ngram_threshold"], p["max_df"])
        answer = {
            **corpus.pipeline_answer(docs, p["near_threshold"]),
            "pairs": sorted([a, b, j] for (a, b), j in pairs.items()),
        }
        with open(os.path.join(path, "answer.json"), "w") as f:
            json.dump(answer, f)

    def load(self) -> None:
        with open(os.path.join(self.data_dir, "answer.json")) as f:
            self.answer = json.load(f)
        self.n_docs = self.answer["stages"][0]["in"]

    def op(self, tracer=None):
        from faang_pydantics_validation_spark.jobs import dedup_cli
        from faang_pydantics_validation_spark.operators import dedup
        from faang_pydantics_validation_spark.session import get_spark

        p = self.params
        spark = get_spark()
        docs = spark.read.parquet(os.path.join(self.data_dir, "docs.parquet"))
        with _span(tracer, "dedup.pipeline"):
            run = dedup_cli.run_dedup_pipeline(spark, docs, threshold=p["near_threshold"])
            kept = sorted(r[0] for r in run["kept"].select("doc_id").collect())
            run["cleanup"]()
        with _span(tracer, "dedup.ngram_pairs"):
            mark = dedup.cache_mark()
            pairs = dedup.ngram_jaccard_pairs(
                docs, n=3, threshold=p["ngram_threshold"], max_df=p["max_df"]
            )
            pairs = sorted([r[0], r[1], r[2]] for r in pairs.collect())
            dedup.release_caches(mark)
        return {"kept": kept, "stages": run["stages"], "pairs": pairs}, self.n_docs

    def check(self, result) -> list[str]:
        problems = []
        if result["stages"] != self.answer["stages"]:
            problems.append(f"stages {result['stages']} != {self.answer['stages']}")
        if result["kept"] != self.answer["kept"]:
            problems.append(f"kept ids differ: {len(result['kept'])} != {len(self.answer['kept'])}")
        got = {(a, b): j for a, b, j in result["pairs"]}
        want = {(a, b): j for a, b, j in self.answer["pairs"]}
        if got.keys() != want.keys():
            problems.append(f"n-gram pairs: {len(got.keys() - want.keys())} unexpected, "
                            f"{len(want.keys() - got.keys())} missing")
        problems += [f"pair {k}: jaccard {got[k]} != {want[k]}"
                     for k in sorted(got.keys() & want.keys()) if abs(got[k] - want[k]) > 1e-6]
        return problems


def _check_drift(rows: list[dict], days: list[str]) -> list[str]:
    """One drift row per consecutive pair of days and profile column
    (turn_idx, hour of ts, role)."""
    pairs = {(r["part_a"], r["part_b"]) for r in rows}
    want = set(zip(days, days[1:]))
    if pairs != want or len(rows) != 3 * len(want):
        return [f"drift rows {len(rows)} over pairs {sorted(pairs)}"]
    return []


def _json_record(turn: dict) -> dict:
    """A turn as a JSON request carries it: timestamps and dates as ISO strings."""
    rec = dict(turn)
    for k in ("ts", "ds"):
        if isinstance(rec[k], (dt.date, dt.datetime)):
            rec[k] = rec[k].isoformat()
    return rec


WORKLOADS = {w.name: w for w in (BatchValidate, ServeRequests, CheckpointDaily, CurateDedup)}
