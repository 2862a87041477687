"""Driver-contract queries: each entry maps an engine operator
(SURVEY.md §2 + training-data ops) onto the TPC-H-ish /root/testdata
tables, with an exact ANSI-SQL (DuckDB) oracle twin.

Determinism rules used throughout (so the driver's value-hash matches):
- every float output is round(x, <=6) computed INSIDE both engines;
- timestamps/dates in outputs are cast to string on both sides;
- counts are BIGINT on both sides;
- any top-k/limit is ranked with a total ordering (metric, then key).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup as DD
from .operators import drift as DR
from .operators import joins as RJ
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators import stats as ST
from .operators import text as TX
from .plans.verdicts import verdicts
from .rules.compiler import compile_row_rules
from .rules.spec import RuleSpec

QueryFn = Callable[[SparkSession, str], DataFrame]

EVENT_TYPES_OK = ["click", "view", "purchase"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t + a parallelism floor for row-group-bound scans.

    The testdata tables are single parquet files with 1-6 row groups, so
    the scan yields at most that many non-empty tasks no matter the split
    size (a split containing no row-group midpoint reads zero rows): on a
    32-core box every row-local stage downstream — regex rule evaluation,
    shingle tokenization, feature extraction — runs nearly single-threaded.
    Round-robin repartition to the core count unlocks it (guide §2.5:
    input-parallelism problems are fixed at the source or by repartitioning
    immediately after the read). Scale-adaptive by construction: a
    production table has >= cores splits and the branch never fires, so no
    shuffle is added where the scan already parallelizes.

    ONLY for queries whose output is invariant to row order/partitioning:
    per-row projections, integer counts and ratios of counts, min/max, and
    windows with a total per-key sort. NOT for queries whose oracle match
    depends on floating-point accumulation order (e.g. tpch_q1's
    round(sum(double), 2) sits within 1e-9 of a .005 boundary at sf0.001
    and flips with summation order — measured, not hypothetical)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


# --------------------------------------------------------------------------
# validation-engine core (P/X/J/G rule kinds over testdata)
# --------------------------------------------------------------------------


def q_rule_enum_event_type(spark, sf_dir):
    """P4 enum membership through the rule compiler."""
    events = _t(spark, sf_dir, "events")
    v = compile_row_rules(
        events,
        [RuleSpec("R_event_type", "enum", ("event_type",), params={"values": EVENT_TYPES_OK})],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.select("event_id", "rule_id", "severity", "scope", "observed")


def q_rule_required_props(spark, sf_dir):
    """P1 required (no violations in this data — exercises the empty path)."""
    events = _t(spark, sf_dir, "events")
    v = compile_row_rules(
        events,
        [RuleSpec("R_props_required", "required", ("props",))],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.select("event_id", "rule_id", "severity", "scope", "observed")


def q_rule_numeric_value_range(spark, sf_dir):
    """P6/P7 numeric bounds; observed re-joined as rounded double to avoid
    cross-engine float->string formatting."""
    events = _t(spark, sf_dir, "events")
    v = compile_row_rules(
        events,
        [RuleSpec("R_value_range", "numeric", ("value",), params={"min": 0, "max": 450})],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.join(events.select("event_id", "value"), "event_id").select(
        "event_id", "rule_id", "severity", F.round("value", 2).alias("value")
    )


def q_rule_expr_props_k(spark, sf_dir):
    """expr escape hatch: JSON-ish extraction, k >= 90 flagged."""
    events = _t(spark, sf_dir, "events")
    v = compile_row_rules(
        events,
        [
            RuleSpec(
                "R_props_k",
                "expr",
                ("props",),
                params={
                    "sql": "try_cast(regexp_extract(props, '\"k\": ([0-9]+)', 1) as int) >= 90",
                    "observed_sql": "regexp_extract(props, '\"k\": ([0-9]+)', 1)",
                },
                severity="warning",
            )
        ],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.select("event_id", "rule_id", "severity", "scope", "observed")


def q_rule_consistency_map(spark, sf_dir):
    """P18 consistency map (standard_ruleset.py:49-70 analog): returnflag
    'N' must pair with linestatus 'O' — the N/F rows violate."""
    li = _t(spark, sf_dir, "lineitem")
    v = compile_row_rules(
        li,
        [
            RuleSpec(
                "R_flag_status",
                "consistency_map",
                ("l_returnflag", "l_linestatus"),
                params={"mapping": {"N": "O"}},
            )
        ],
        key_cols=("l_orderkey", "l_linenumber"),
        partition_col=None,
    )
    return v.select("l_orderkey", "l_linenumber", "rule_id", "severity", "observed")


def q_rule_conditional_bound(spark, sf_dir):
    """P9 conditional upper bound (water-oxygen semantics): value passes as
    a percentage (<=100) or as an absolute reading (<=300); above both is a
    violation. Rounded value re-joined (float->string formatting differs
    across engines)."""
    events = _t(spark, sf_dir, "events")
    v = compile_row_rules(
        events,
        [
            RuleSpec(
                "R_value_dual_bound",
                "conditional_upper_bound",
                ("value",),
                params={"pct_max": 100, "abs_max": 300},
            )
        ],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.join(events.select("event_id", "value"), "event_id").select(
        "event_id", "rule_id", "severity", F.round("value", 2).alias("value")
    )


def q_rule_date_calendar(spark, sf_dir):
    """P11 real-calendar date check: force every order date into February
    of its year (keeping the day-of-month) — day > 28/29 yields a
    format-valid but calendar-invalid string."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderkey",
        F.concat(
            F.date_format("o_orderdate", "yyyy"),
            F.lit("-02-"),
            F.date_format("o_orderdate", "dd"),
        ).alias("feb_date"),
    )
    v = compile_row_rules(
        df,
        [RuleSpec("R_feb_date", "date_calendar", ("feb_date",))],
        key_cols=("o_orderkey",),
        partition_col=None,
    )
    return v.select("o_orderkey", "rule_id", "severity", "observed")


def q_rule_url_schemes(spark, sf_dir):
    """P15 URL scheme allow-list over a deterministic link column:
    https passes, ftp and mailto (not in the allow-list) are flagged."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    df = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("https://ex.org/"), did))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("ftp://ex.org/"), did))
        .otherwise(F.lit("mailto:user@ex.org"))
        .alias("link"),
    )
    v = compile_row_rules(
        df,
        [RuleSpec("R_link", "url", ("link",), severity="warning")],
        key_cols=("doc_id",),
        partition_col=None,
    )
    return v.select("doc_id", "rule_id", "severity", "observed")


def q_rule_pair_required(spark, sf_dir):
    """X1 both-or-neither pairing (organism text<->term analog) over
    deterministically-nulled columns: a missing on id%5, b on id%7 — rows
    where exactly one side is present violate."""
    events = _t(spark, sf_dir, "events")
    df = events.select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("event_type")).alias("a_text"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.lit("x")).alias("b_term"),
    )
    v = compile_row_rules(
        df,
        [RuleSpec("R_pair", "pair_required", ("a_text", "b_term"))],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.select("event_id", "rule_id", "severity", "observed")


def q_rule_conditional_required(spark, sf_dir):
    """X3 required-unless (organoid freezing-method analog): detail is
    required unless event_type == 'view'; detail missing on id%11."""
    events = _t(spark, sf_dir, "events")
    df = events.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(F.lit("ok")).alias("detail"),
    )
    v = compile_row_rules(
        df,
        [
            RuleSpec(
                "R_detail_required",
                "conditional_required",
                ("event_type", "detail"),
                params={"unless_values": ["view"]},
            )
        ],
        key_cols=("event_id",),
        partition_col=None,
    )
    return v.select("event_id", "rule_id", "severity", "observed")


def q_rule_term_format(spark, sf_dir):
    """P3 underscore->colon normalization + term-format check: NCIT_<id>
    normalizes clean, NCIT:<id> already clean, 'bad id' violates, blank
    passes through as NULL."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    df = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("NCIT_"), did))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("NCIT:"), did))
        .when(F.col("doc_id") % 4 == 2, F.lit("bad id"))
        .otherwise(F.lit(" "))
        .alias("term"),
    )
    v = compile_row_rules(
        df,
        [
            RuleSpec(
                "R_term_format",
                "term_format",
                ("term",),
                params={"pattern": "^[A-Za-z]+:[0-9]+$"},
            )
        ],
        key_cols=("doc_id",),
        partition_col=None,
    )
    return v.select("doc_id", "rule_id", "severity", "observed")


def q_rule_sentinel_tiers(spark, sf_dir):
    """P5 sentinel tier semantics (constants.py:214-228 analog): the SAME
    numeric rule at all three tiers over a column seeded with every
    sentinel, a blank, a base violation, and a clean value."""
    events = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 10
    df = events.select(
        "event_id",
        F.when(m == 0, F.lit("not applicable"))
        .when(m == 1, F.lit("not collected"))
        .when(m == 2, F.lit("not provided"))
        .when(m == 3, F.lit("restricted access"))
        .when(m == 4, F.lit(" "))
        .when(m == 5, F.lit("500"))
        .otherwise(F.lit("50"))
        .alias("reading"),
    )
    rules = [
        RuleSpec("R_mand", "numeric", ("reading",), params={"max": 100}, tier="mandatory"),
        RuleSpec("R_rec", "numeric", ("reading",), params={"max": 100}, tier="recommended"),
        RuleSpec("R_opt", "numeric", ("reading",), params={"max": 100}, tier="optional"),
    ]
    v = compile_row_rules(df, rules, key_cols=("event_id",), partition_col=None)
    return v.select("event_id", "rule_id", "severity", "observed")


def q_rule_date_by_unit(spark, sf_dir):
    """P10/X4 unit-driven date format (organism_ruleset.py:231-235 analog):
    unit column selects the regex the date column must match."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("YYYY"))
        .otherwise(F.lit("YYYY-MM-DD"))
        .alias("unit"),
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(F.lit("n/a"))
        .alias("d"),
    )
    v = compile_row_rules(
        df,
        [
            RuleSpec(
                "R_date_unit",
                "date_by_unit",
                ("d", "unit"),
                params={
                    "formats": {
                        "YYYY": r"^\d{4}$",
                        "YYYY-MM-DD": r"^\d{4}-\d{2}-\d{2}$",
                    }
                },
            )
        ],
        key_cols=("o_orderkey",),
        partition_col=None,
    )
    return v.select("o_orderkey", "rule_id", "severity", "observed")


def q_rule_timestamp_strip(spark, sf_dir):
    """P12 timestamp strip (pool_of_specimens_ruleset.py:60-62 analog):
    'date time' strings pass/fail on the DATE PART only."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.concat(F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit(" 00:00:00")),
        )
        .otherwise(
            F.concat(F.date_format("o_orderdate", "yyyy/MM/dd"), F.lit(" 12:30:00"))
        )
        .alias("dt"),
    )
    v = compile_row_rules(
        df,
        [
            RuleSpec(
                "R_dt_strip",
                "regex",
                ("dt",),
                params={"pattern": r"^\d{4}-\d{2}-\d{2}$", "strip_time": True},
            )
        ],
        key_cols=("o_orderkey",),
        partition_col=None,
    )
    return v.select("o_orderkey", "rule_id", "severity", "observed")


def q_rule_time_photoperiod(spark, sf_dir):
    """P13 HH:MM regex + P14 photoperiod regex with literal allow-list, as
    two rules over synthesized columns in one pass."""
    docs = _t(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("12:30"))
        .when(F.col("doc_id") % 3 == 1, F.lit("99:99"))
        .otherwise(F.lit(" "))
        .alias("hhmm"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("12L:12D"))
        .when(F.col("doc_id") % 4 == 1, F.lit("natural light"))
        .when(F.col("doc_id") % 4 == 2, F.lit("constant"))
        .otherwise(F.lit(""))
        .alias("photo"),
    )
    v = compile_row_rules(
        df,
        [
            RuleSpec(
                "R_time",
                "regex",
                ("hhmm",),
                params={"pattern": r"^([01]\d|2[0-3]):[0-5]\d$"},
            ),
            RuleSpec(
                "R_photo",
                "regex",
                ("photo",),
                params={
                    "pattern": r"^[0-9]{1,2}L:[0-9]{1,2}D$",
                    "allow": ["natural light"],
                },
                severity="warning",
            ),
        ],
        key_cols=("doc_id",),
        partition_col=None,
    )
    return v.select("doc_id", "rule_id", "severity", "observed")


def q_rule_array_size(spark, sf_dir):
    """A2/A3/A4/A7 cardinality bounds on a blank-normalized array column:
    size must land in [1, 2] after dropping blank elements."""
    docs = _t(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        F.split(
            F.when(F.col("doc_id") % 4 == 0, F.lit("a"))
            .when(F.col("doc_id") % 4 == 1, F.lit("a,b"))
            .when(F.col("doc_id") % 4 == 2, F.lit("a,b,c"))
            .otherwise(F.lit(" ")),
            ",",
        ).alias("parents"),
    )
    v = compile_row_rules(
        df,
        [RuleSpec("R_parents_card", "array_size", ("parents",), params={"min": 1, "max": 2})],
        key_cols=("doc_id",),
        partition_col=None,
    )
    return v.select("doc_id", "rule_id", "severity", "observed")


def q_rule_array_elements(spark, sf_dir):
    """A6 per-element regex (picture-URL analog) + A5-predicate per-element
    enum, one pass; observed is the comma-joined offending elements."""
    docs = _t(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        F.split(
            F.when(F.col("doc_id") % 3 == 0, F.lit("https://a,https://b"))
            .when(F.col("doc_id") % 3 == 1, F.lit("https://a,ftp://b"))
            .otherwise(F.lit("http://a")),
            ",",
        ).alias("urls"),
        F.split(
            F.when(F.col("doc_id") % 2 == 0, F.lit("click,view"))
            .otherwise(F.lit("click,zzz")),
            ",",
        ).alias("kinds"),
    )
    v = compile_row_rules(
        df,
        [
            RuleSpec(
                "R_url_elems",
                "array_element_regex",
                ("urls",),
                params={"pattern": r"^https?://"},
            ),
            RuleSpec(
                "R_kind_elems",
                "array_element_enum",
                ("kinds",),
                params={"values": EVENT_TYPES_OK},
            ),
        ],
        key_cols=("doc_id",),
        partition_col=None,
    )
    return v.select("doc_id", "rule_id", "severity", "observed")


def q_prefix_route_docs(spark, sf_dir):
    """J2 prefix routing: the term's ontology prefix (after _->: norm) must
    be one of the field's legal ontologies; sentinels are skipped."""
    docs = _t(spark, sf_dir, "documents")
    facts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("not provided"))
        .when(F.col("doc_id") % 3 == 0, F.lit("NCIT_12"))
        .when(F.col("doc_id") % 3 == 1, F.lit("FOO:9"))
        .otherwise(F.lit("PATO:5"))
        .alias("term"),
    )
    from .operators import ontology as ON

    return ON.prefix_route_rule(
        facts, "term", {"f": ["NCIT", "PATO"]}, "R_prefix", ds=False
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_subclass_docs(spark, sf_dir):
    """J4 graph-restriction: term must descend from NCIT:1 via the
    precomputed is_a_path closure (built here by build_term_closure from a
    literal edge list; the oracle rebuilds it with WITH RECURSIVE)."""
    from .operators import ontology as ON

    edges = spark.createDataFrame(
        [("NCIT:1", "ROOT"), ("NCIT:2", "NCIT:1"), ("NCIT:3", "OTHER")],
        "child string, parent string",
    )
    dim = ON.build_term_closure(edges)
    docs = _t(spark, sf_dir, "documents")
    facts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("NCIT:1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("NCIT:2"))
        .otherwise(F.lit("NCIT:3"))
        .alias("term"),
    )
    return ON.subclass_restriction_rule(
        facts, dim, "term", ["NCIT:1"], "R_subclass", ds=False
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_label_match_customer(spark, sf_dir):
    """J3 text<->label match (warning): provided text must equal the dim
    label for the referenced term, case-insensitive."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    facts = cust.join(
        nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name"),
        "c_nationkey",
    ).select(
        F.col("c_custkey").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("c_nationkey").cast("string").alias("nkey"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("WRONG"))
        .otherwise(F.lower(F.col("n_name")))
        .alias("ctext"),
    )
    dim = nation.select(F.col("n_nationkey").cast("string").alias("term"), F.col("n_name").alias("label"))
    return RJ.label_match_rule(
        facts, dim, "nkey", F.col("ctext"), "term", "label", "R_nation_label", ds=False
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_parent_attr_customer(spark, sf_dir):
    """J8 parent-child attribute match via self-join: every customer's
    decade-root parent must share its market segment."""
    cust = _t(spark, sf_dir, "customer")
    entities = cust.select(
        F.col("c_custkey").cast("string").alias("id"),
        F.when(
            F.col("c_custkey") % 10 != 0,
            (F.col("c_custkey") - F.col("c_custkey") % 10).cast("string"),
        ).alias("parent"),
        F.col("c_mktsegment").alias("attr"),
    )
    return RJ.self_join_parent_match(
        entities, "id", "parent", "attr", "R_parent_seg"
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_circular_customer(spark, sf_dir):
    """J9 1-hop circularity: planted mutual parent pointers at every
    %100 boundary pair; all other pointers are dangling (no cycle)."""
    cust = _t(spark, sf_dir, "customer")
    partner = (
        F.when(F.col("c_custkey") % 100 == 0, F.col("c_custkey") + 1)
        .when(F.col("c_custkey") % 100 == 1, F.col("c_custkey") - 1)
        .otherwise(F.col("c_custkey") + 1000000)
    )
    entities = cust.select(
        F.col("c_custkey").cast("string").alias("id"),
        F.array(partner.cast("string")).alias("parents"),
    )
    return RJ.circular_reference_rule(entities, "id", "parents", "R_circular").select(
        "conv_id", "rule_id", "severity", "scope", "observed"
    )


def q_nested_elements_docs(spark, sf_dir):
    """A5 nested {text,term} array validation: one explode + broadcast dim;
    missing term -> error, text!=label -> warning."""
    from .operators import ontology as ON

    dim = spark.createDataFrame(
        [("NCIT:1", "Alpha"), ("NCIT:2", "Beta")], "term string, label string"
    )
    docs = _t(spark, sf_dir, "documents")
    facts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.array(
            F.struct(
                F.when(F.col("doc_id") % 5 == 0, F.lit("Wrong"))
                .otherwise(F.lit("alpha"))
                .alias("text"),
                F.lit("NCIT:1").alias("term"),
            ),
            F.struct(
                F.lit("beta").alias("text"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("NCIT:9"))
                .otherwise(F.lit("NCIT:2"))
                .alias("term"),
            ),
        ).alias("elems"),
    )
    return ON.nested_elements_rule(
        facts, dim, "elems", "R_term_exists", "R_term_label", ds=False
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_schema_check_events(spark, sf_dir):
    """P17 unknown-field rejection at table grain: declare a contract that
    (a) omits `props` (-> unknown column), (b) requires `session_id`
    (-> missing column), (c) pins `value` as float (-> type mismatch).
    Driver-side metadata check — zero data read."""
    from .operators.schema import schema_check

    events = _t(spark, sf_dir, "events")
    declared = {
        "event_id": "bigint",
        "ts": "timestamp_ntz",
        "user_id": "bigint",
        "event_type": "string",
        "value": "float",
        "session_id": "string",
    }
    return schema_check(events, declared).select("rule_id", "severity", "scope", "observed")


def q_uniqueness_lineitem(spark, sf_dir):
    """J10 hash-aggregate dedup counts on (l_orderkey, l_linenumber)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("conv_id"),
        F.col("l_linenumber").cast("int").alias("turn_idx"),
    )
    return RJ.uniqueness_rule(li, ds=False).select(
        "conv_id", "turn_idx", "rule_id", "severity", "scope", "observed"
    )


def q_referential_user_supplier(spark, sf_dir):
    """J1/J6 broadcast anti-join: event user_id must exist in supplier keys."""
    events = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("user_id"),
    )
    sup = _t(spark, sf_dir, "supplier")
    return RJ.anti_join_rule(
        events, sup, "user_id", "s_suppkey", "R_user_known", ds=False
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_allowed_pairs_orders(spark, sf_dir):
    """J5/J7 allowed-pairs: (mktsegment, orderpriority) against a small
    allowed dim (broadcast anti-join on the pair)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    facts = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"), "o_custkey"
    ).select(
        F.col("o_orderkey").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("prio"),
    )
    allowed = spark.createDataFrame(
        [(s, p) for s in ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
         for p in ["1-URGENT", "2-HIGH", "3-MEDIUM"]],
        "seg string, prio string",
    )
    return RJ.allowed_pairs_rule(
        facts, allowed, ("seg", "prio"), ("seg", "prio"), "R_seg_prio", ds=False
    ).select("conv_id", "rule_id", "severity", "scope", "observed")


def q_window_rules_lineitem(spark, sf_dir):
    """Window ordering invariants (gaps + monotonic ts) on lineitem viewed
    as (order=conversation, linenumber=turn)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("conv_id"),
        F.col("l_linenumber").cast("int").alias("turn_idx"),
        F.col("l_returnflag").alias("role"),
        F.col("l_shipdate").alias("ts"),
    )
    out = RJ.window_rules(li, valid_roles=["A", "N", "R"], allowed_transitions=None, ds=False)
    return out.select(
        "conv_id", "turn_idx", "rule_id", "severity", "scope",
        # timestamps stringify identically in both engines
        F.col("observed").cast("string").alias("observed"),
    )


def q_verdicts_events_daily(spark, sf_dir):
    """FLAGSHIP: full verdict pipeline over events partitioned by day —
    enum rule (error) + value-range rule (warning) -> per-partition
    pass/fail verdict table (G1/G2 + base_validator.py:115-159 semantics).
    _t, not _tp: with the boolean-flag path the pre-shuffle work is two
    codegen booleans, so the first real operator is the keyed aggregation
    shuffle — a parallelism-floor repartition measured equal at sf1.0
    (2.39 vs 2.51s) and a pure ~0.4s cost at sf0.1."""
    events = _t(spark, sf_dir, "events")
    facts = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "event_type",
        "value",
        F.to_date("ts").alias("ds"),
    )
    rules = [
        RuleSpec("R_event_type", "enum", ("event_type",), params={"values": EVENT_TYPES_OK}),
        RuleSpec(
            "R_value_range", "numeric", ("value",), params={"min": 0, "max": 450},
            severity="warning",
        ),
    ]
    # r6: per-row boolean flags + one two-level aggregation pass instead of
    # struct/explode violations + a separate totals scan (value-identical —
    # see plans/verdicts.verdicts_fast; parity pinned in
    # tests/test_verdicts_fast.py and by this query's DuckDB oracle)
    from .plans.verdicts import verdicts_fast
    from .rules.compiler import rules_flags

    he, hw = rules_flags(rules)
    flags = facts.select(
        "ds", "conv_id", "turn_idx", he.alias("has_error"), hw.alias("has_warning")
    )
    v = verdicts_fast(flags)
    return v.select(
        F.col("ds").cast("string").alias("ds"),
        "total_turns",
        "n_conversations",
        "valid_turns",
        "error_turns",
        "warning_only_turns",
        "relationship_errors",
        "verdict",
    )


def q_column_stats_orders(spark, sf_dir):
    """G4 single-pass column profile (exactly-checkable subset: the HLL++
    and KLL outputs are approximate by design and checked in q_approx_* —
    include_approx=False keeps this query from paying for sketches it
    never selects; with the sketches gone the aggregation is scan-bound,
    so the _tp parallelism floor would cost more than it buys (r6)."""
    orders = _t(spark, sf_dir, "orders").withColumn("part", F.lit("all"))
    st = ST.column_stats(
        orders, partition_col="part",
        columns=["o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority"],
        include_approx=False,
    )
    return st.select(
        "part", "column", "n", "n_null",
        F.round("null_rate", 6).alias("null_rate"), "min", "max",
    )


def q_salted_user_counts(spark, sf_dir):
    """Explicit two-phase salted aggregation == plain groupBy counts."""
    events = _t(spark, sf_dir, "events")
    return ST.salted_agg(events, ["user_id"], n_salts=16).select("user_id", "n")


def q_drift_value_halves(spark, sf_dir):
    """Axis-B drift: KS+PSI between month-halves of events.value.
    (_t, not _tp: the first operator is already an aggregation shuffle, so
    a parallelism-floor repartition is pure overhead — measured 1.29->2.60s
    at sf1.0.)"""
    events = _t(spark, sf_dir, "events").withColumn(
        "half", F.when(F.dayofmonth("ts") <= 15, F.lit("a")).otherwise(F.lit("b"))
    )
    hist = DR.numeric_histogram(events, "value", partition_col="half", bins=20)
    m = DR.drift_metrics_sql(hist, "a", "b")
    return m.select(
        "column", "part_a", "part_b",
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("psi", 6).alias("psi"),
        "verdict",
    )


def q_sessionization_events(spark, sf_dir):
    """Window sessionization: new session when gap > 30 min; per user
    session count + max session length (stable-ordering window analog)."""
    from pyspark.sql import Window

    # _t, not _tp: the window shuffles by user_id immediately and the
    # pre-shuffle work is a trivial projection — the repartition only adds
    # an exchange (measured 1.39->2.01s at sf1.0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    marked = events.withColumn(
        "new_sess",
        (
            F.col("prev_ts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 1800)
        ).cast("int"),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    per_sess = marked.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.max("n").alias("max_session_events")
    )


# --------------------------------------------------------------------------
# TPC-H classics (agg + join demos; bench headliners)
# --------------------------------------------------------------------------


def q_conv_rollup(spark, sf_dir):
    """Per-conversation rollup (stats.conversation_stats inner pass):
    user_id = conversation, events = turns."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("event_type").alias("n_types"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("span_us"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def q_tpch_q5_local_supplier(spark, sf_dir):
    """5-way join (region-nation-customer-orders-lineitem-supplier):
    revenue by nation — the join-reordering/broadcast stress query."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            sup,
            (li["l_suppkey"] == sup["s_suppkey"])
            & (cust["c_nationkey"] == sup["s_nationkey"]),
        )
        .join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_drift_role_categorical(spark, sf_dir):
    """Categorical drift: event_type distribution between month-halves —
    the top-K + OTHER histogram path with an exact SQL twin."""
    events = _t(spark, sf_dir, "events").withColumn(
        "half", F.when(F.dayofmonth("ts") <= 15, F.lit("a")).otherwise(F.lit("b"))
    )
    hist = DR.categorical_histogram(events, "event_type", partition_col="half", top_k=3)
    m = DR.drift_metrics_sql(hist, "a", "b")
    return m.select(
        "column", "part_a", "part_b",
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("psi", 6).alias("psi"),
        "verdict",
    )


def q_tpch_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3_shipping(spark, sf_dir):
    """Top-10 via orderBy().limit() so Spark plans TakeOrderedAndProject
    (distributed per-partition top-k + tiny driver merge) instead of a
    partition-less row_number window (single-task sort of ALL order-level
    aggregates — a scale-killer at 100x). The rank column is re-derived on
    the 10-row result, where a global window costs nothing."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    top = j.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "l_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        "o_orderpriority",
        "revenue",
        "rk",
    )


# --------------------------------------------------------------------------
# training-data ops over documents / embeddings
# --------------------------------------------------------------------------


def q_dedup_exact_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.exact_duplicates(docs)


def q_dedup_ngram_jaccard(spark, sf_dir):
    """max_df stop-shingle cap is wired explicitly (and is the operator
    default): without it the inverted-index self-join goes quadratic on
    hot shingles at corpus scale. The DuckDB oracle applies the same cap."""
    docs = _tp(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, n=3, threshold=0.05, max_df=1000)


def q_text_quality(spark, sf_dir):
    # _tp-safe: purely per-row projection
    return TX.quality_features(_tp(spark, sf_dir, "documents"))


def q_dedup_pipeline_kept(spark, sf_dir):
    """End-to-end curation pipeline (jobs/dedup_cli.py), SQL-expressible
    subset: exact-dedup survivors filtered by quality (n_words >= 5,
    alpha_ratio >= 0.5) and a detected language (lang_guess != 'und') —
    stages 1 and 3 of the CLI with a value-exact DuckDB twin (the MinHash
    stage 2 has its own oracle pair: minhash_jaccard_verified)."""
    docs = _t(spark, sf_dir, "documents")
    keep = DD.exact_duplicates(docs).select(F.col("keep_id").alias("doc_id"))
    surv = docs.join(keep, "doc_id", "leftsemi")
    q = TX.quality_features(surv).select("doc_id", "n_words", "alpha_ratio")
    lid = TX.language_id(surv).select("doc_id", "lang_guess")
    return (
        q.join(lid, "doc_id")
        .where(
            (F.col("n_words") >= 5)
            & (F.col("alpha_ratio") >= 0.5)
            & (F.col("lang_guess") != "und")
        )
        .select("doc_id", F.col("n_words").cast("int").alias("n_words"), "lang_guess")
    )


def q_text_langid(spark, sf_dir):
    return TX.language_id(_t(spark, sf_dir, "documents"))


def q_text_fingerprint(spark, sf_dir):
    return TX.fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fp_md5")


def q_ann_cosine_topk(spark, sf_dir):
    # _tp-safe: cosine is row-local (array fold inside one row); ranking
    # is totally ordered by (rounded cosine desc, corpus id)
    emb = _tp(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return SIM.cosine_topk_bruteforce(emb.where("vec_id < 10"), emb, k=5)


def q_embedding_norm_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
    )


def q_multimodal_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    media = MM.pack_fake_media(docs)
    return MM.decode_media_meta(media)


def q_multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: one row per sampled frame index (every 2nd
    frame). n_frames comes out of the binary header via the mapInPandas
    decoder, so this exercises the full pack->decode->explode chain with an
    exact oracle (n_frames == doc_id % 5 + 1 by construction)."""
    docs = _t(spark, sf_dir, "documents")
    media = MM.pack_fake_media(docs)
    return MM.frame_sample(media, every=2)


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup via hyperplane-LSH buckets + in-bucket
    exact cosine. The testdata embeddings are near-orthogonal (max pairwise
    cosine ~0.51), so the query plants duplicates: vectors with vec_id < 50
    are re-appended under vec_id+10000. Identical vectors land in the SAME
    LSH bucket by construction (equal sign bits), so recall at the 0.95
    threshold is provably 1.0 and the output equals the brute-force pair
    set — the all-pairs DuckDB twin (O(n^2) is fine for the oracle at
    sf0.01; the Spark side stays bucketed)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    dups = emb.where("vec_id < 50").select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return DD.embedding_cosine_dups(emb.unionByName(dups), threshold=0.95)


# ----- Spark-only (no SQL oracle -> driver rows-only check) ----------------


def q_minhash_lsh_documents(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.05)


def q_minhash_jaccard_verified(spark, sf_dir):
    """MinHash+LSH in its exact-recall configuration (rows-per-band=1, 64
    bands: a pair with Jaccard j is a candidate with prob 1-(1-j)^64, i.e.
    a miss at the 0.5 threshold needs (1-j)^64 <= 2^-64) followed by exact
    Jaccard verification — so the output EQUALS the brute ngram-Jaccard
    pair set and gets a value-exact DuckDB oracle, unlike the banded
    production config above (rows-only). max_bucket is DISABLED here: the
    hot-bucket cap trades recall for bounded candidates, which would void
    this configuration's exact-recall guarantee at scale factors with
    >cap-sized bucket collisions (the internal exact-dup collapse stays
    on — it is value-neutral)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(
        docs, num_hashes=64, bands=64, threshold=0.5, verify=True, max_bucket=None
    )


def q_minhash_group_form(spark, sf_dir):
    """Group-form dedup output in the exact-recall configuration: docs with
    doc_id < 50 re-appended at doc_id+10000 (planted exact-duplicate
    groups), MinHash with rows-per-band=1 x 64 bands (candidate recall 1.0
    at threshold 0.5, see q_minhash_jaccard_verified) + exact verification,
    collapse FORCED (collapse_min_pairs=0 — the planted pair mass is under
    the adaptive default). Output (rep_id, member_id, jaccard): one intra
    edge per planted copy at jaccard exactly 1.0 plus the representative-
    level verified near-dup pairs — linear in cluster size, SQL-expressible
    because groups are normalized-text equivalence classes and inter edges
    are the exact Jaccard relation over group representatives."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.where("doc_id < 50").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return DD.minhash_lsh_pairs(
        docs.unionByName(dups),
        num_hashes=64,
        bands=64,
        threshold=0.5,
        verify=True,
        max_bucket=None,
        group_form=True,
        collapse_min_pairs=0,
    )


def q_simhash_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(docs, max_hamming=12, n_bands=4)


def q_simhash_planted_dups(spark, sf_dir):
    """SimHash in its value-exact configuration (the embedding_near_dups
    recipe): docs with doc_id < 50 re-appended at doc_id+10000, threshold
    hamming == 0. Identical documents provably collide on every bit, and
    the doc_id<50 subset has no natural sign-pattern collisions (verified
    at sf0.001/0.01/0.1 — the full 500-doc table has 4, which is why the
    production-config query above stays rows-only), so the pair set is
    exactly the 50 planted pairs — a DuckDB-expressible constant relation
    over the same input."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").where("doc_id < 50")
    dups = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    return DD.simhash_near_pairs(docs.unionByName(dups), max_hamming=0, n_bands=4)


def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN in its value-exact configuration: n_planes=0
    puts every vector in the single global bucket, so each query scans the
    whole corpus and the result EQUALS total-ordered brute-force top-k —
    while still exercising the full LSH plumbing (bucketing expression,
    probe explode, exact-dup collapse + member re-expansion, in-bucket
    scoring, final rank). The approximate regime (n_planes > 0) is
    recall-floor-tested against brute force in pytest
    (test_lsh_and_ivf_recall_vs_bruteforce)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return SIM.cosine_topk_lsh(emb.where("vec_id < 8"), emb, k=4, n_planes=0)


def q_ann_ivf(spark, sf_dir):
    """IVF in its value-exact configuration: nprobe == nlist means every
    query scans every centroid list — the full corpus — so the result
    EQUALS brute-force top-k (total-ordered), while still exercising the
    whole IVF plumbing: hash-sampled centroids, corpus assignment, probe
    routing, per-list scan. The approximate regime (nprobe < nlist) is
    recall-floor-tested against brute force in pytest
    (test_ivf_recall_floor)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return SIM.cosine_topk_ivf(emb.where("vec_id < 5"), emb, k=3, nlist=8, nprobe=8)


def q_approx_distinct_quantiles(spark, sf_dir):
    """HLL++/KLL sketch outputs (approximate by design — rows-only check;
    exactness is asserted with tolerances in the pytest suite).

    The quantiles array is serialized to a JSON string: the driver's
    rows-only canonicalizer hashes rows via pandas and dies on unhashable
    list cells (CORRECTNESS_r01 red row)."""
    orders = _t(spark, sf_dir, "orders").withColumn("part", F.lit("all"))
    st = ST.column_stats(orders, partition_col="part", columns=["o_custkey", "o_totalprice"])
    return st.select(
        "part",
        "column",
        "approx_distinct",
        F.to_json(F.transform("quantiles", lambda x: F.round(x, 6))).alias("quantiles"),
    )


def q_drift_pandas_udf(spark, sf_dir):
    """Arrow/pandas-UDF drift twin (same numbers as q_drift_value_halves)."""
    events = _t(spark, sf_dir, "events").withColumn(
        "half", F.when(F.dayofmonth("ts") <= 15, F.lit("a")).otherwise(F.lit("b"))
    )
    hist = DR.numeric_histogram(events, "value", partition_col="half", bins=20)
    m = DR.drift_metrics_pandas(hist, "a", "b")
    return m.select(
        "column", "part_a", "part_b",
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("psi", 6).alias("psi"),
        "verdict",
    )


QUERIES: dict[str, QueryFn] = {
    "rule_enum_event_type": q_rule_enum_event_type,
    "rule_required_props": q_rule_required_props,
    "rule_numeric_value_range": q_rule_numeric_value_range,
    "rule_expr_props_k": q_rule_expr_props_k,
    "rule_consistency_map": q_rule_consistency_map,
    "rule_conditional_bound": q_rule_conditional_bound,
    "rule_date_calendar": q_rule_date_calendar,
    "rule_url_schemes": q_rule_url_schemes,
    "rule_pair_required": q_rule_pair_required,
    "rule_conditional_required": q_rule_conditional_required,
    "rule_term_format": q_rule_term_format,
    "rule_sentinel_tiers": q_rule_sentinel_tiers,
    "rule_date_by_unit": q_rule_date_by_unit,
    "rule_timestamp_strip": q_rule_timestamp_strip,
    "rule_time_photoperiod": q_rule_time_photoperiod,
    "rule_array_size": q_rule_array_size,
    "rule_array_elements": q_rule_array_elements,
    "prefix_route_docs": q_prefix_route_docs,
    "subclass_docs": q_subclass_docs,
    "label_match_customer": q_label_match_customer,
    "parent_attr_customer": q_parent_attr_customer,
    "circular_customer": q_circular_customer,
    "nested_elements_docs": q_nested_elements_docs,
    "schema_check_events": q_schema_check_events,
    "uniqueness_lineitem": q_uniqueness_lineitem,
    "referential_user_supplier": q_referential_user_supplier,
    "allowed_pairs_orders": q_allowed_pairs_orders,
    "window_rules_lineitem": q_window_rules_lineitem,
    "verdicts_events_daily": q_verdicts_events_daily,
    "column_stats_orders": q_column_stats_orders,
    "salted_user_counts": q_salted_user_counts,
    "drift_value_halves": q_drift_value_halves,
    "sessionization_events": q_sessionization_events,
    "conv_rollup": q_conv_rollup,
    "drift_role_categorical": q_drift_role_categorical,
    "tpch_q1_pricing": q_tpch_q1_pricing,
    "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "dedup_exact_documents": q_dedup_exact_documents,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_pipeline_kept": q_dedup_pipeline_kept,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_norm_stats": q_embedding_norm_stats,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "embedding_near_dups": q_embedding_near_dups,
    "minhash_lsh_documents": q_minhash_lsh_documents,
    "minhash_jaccard_verified": q_minhash_jaccard_verified,
    "minhash_group_form": q_minhash_group_form,
    "simhash_documents": q_simhash_documents,
    "simhash_planted_dups": q_simhash_planted_dups,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "approx_distinct_quantiles": q_approx_distinct_quantiles,
    "drift_pandas_udf": q_drift_pandas_udf,
}
