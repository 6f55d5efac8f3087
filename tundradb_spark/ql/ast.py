"""TundraQL abstract syntax tree (one dataclass per statement form).

Mirrors the statement surface of the reference grammar
(antlr/TundraQL.g4:4-74): CREATE SCHEMA / CREATE EDGE SCHEMA / CREATE NODE /
CREATE EDGE / MATCH / UPDATE (3 modes) / DELETE (4 targets) / SHOW / COMMIT.

The analytics extension statements (FUNNEL ... QUALITY, :data:`EXTENSIONS`)
are declared by their dataclass alone: its :func:`clause` fields give the
keywords, value types and defaults, and its ``check`` the value rules.  The
parser, the shell's hints and the interpreter's operator call derive from
that one declaration, the way the reference derives its parser from one
grammar.
"""

from __future__ import annotations

from dataclasses import MISSING, Field, dataclass, field, fields
from typing import Any, ClassVar

from tundradb_spark.errors import QueryError
from tundradb_spark.query import Expr

# node selector: ("User", 123) by id, or ("User", {"name": "Alice"}) by props
Selector = tuple[str, Any]


@dataclass(frozen=True)
class NodeRef:
    """(alias:Schema) or (alias) — schema optional on re-reference."""

    alias: str
    schema: str | None


@dataclass(frozen=True)
class Hop:
    """One edge pattern between two node patterns; ``reversed`` for
    ``<-[...]-`` (direction swapped at parse time, like the reference's
    visitor, apps/tundra_shell.cpp:570-577)."""

    source: NodeRef
    target: NodeRef
    edge_type: str | None
    edge_alias: str | None
    join_type: str  # inner|left|right|full
    reversed: bool


@dataclass(frozen=True)
class CreateSchema:
    name: str
    fields: dict[str, str]
    is_edge: bool


@dataclass(frozen=True)
class CreateNode:
    schema: str
    props: dict[str, Any]
    return_id: bool


@dataclass(frozen=True)
class CreateEdge:
    edge_type: str
    source: Selector
    target: Selector
    props: dict[str, Any] = field(default_factory=dict)
    unique: bool = False


@dataclass(frozen=True)
class Match:
    hops: list[Hop]
    roots: list[NodeRef]  # single-node patterns with no edges
    where: Expr | None
    select: list[tuple[str, str | None]]  # (dotted path, AS alias)
    # -- text-surface extensions (engine capabilities the reference grammar
    # never grew productions for — its own clause enum anticipated them,
    # include/query/query.hpp:168) --
    distinct: bool = False  # SELECT DISTINCT
    group_by: list[str] = field(default_factory=list)
    aggs: list[tuple[str, str, str | None]] = field(
        default_factory=list
    )  # (fn, field-or-*, AS alias)
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (path, asc)
    limit: int | None = None
    as_of_vt: int | None = None  # AS OF <valid-time>
    as_of_tt: int | None = None  # ... TX <tx-time>


@dataclass(frozen=True)
class Update:
    # exactly one of: locator (Mode 1), pattern (Mode 2), match (Mode 3)
    locator: tuple[str, int] | None
    pattern: NodeRef | None
    match: Match | None
    assignments: dict[str, Any]
    where: Expr | None


@dataclass(frozen=True)
class Delete:
    locator: tuple[str, int] | None = None
    pattern: NodeRef | None = None
    path: Match | None = None
    edge_type: str | None = None
    edge_from: Selector | None = None
    edge_to: Selector | None = None
    where: Expr | None = None


@dataclass(frozen=True)
class Show:
    target: str  # "edges" | "edge_types"
    edge_type: str | None = None


@dataclass(frozen=True)
class Commit:
    pass


@dataclass(frozen=True)
class Explain:
    """EXPLAIN MATCH … — surface the engine's physical plan (extension;
    the reference has no plan introspection at all)."""

    inner: "Match"


# --------------------------------------------------------------------------
# Extension statements: the engine's analytics family on the text surface
# (the shell fronts the engine's capability set the way the reference's
# shell fronts its own).  Each is declared once, by its dataclass below:
# the parser, the parse() dispatch, the shell's hints and completions and
# the interpreter's operator call are all derived from it.


def clause(kw: str, default: Any = MISSING, arg: str | None = None) -> Any:
    """A field set by the clause ``kw`` (one or more keywords, e.g.
    ``MAX OFFSET``); required when it has no default.  The field's type
    sets how the value parses: ``str`` an identifier, ``int`` a
    non-negative integer, ``float`` a number, ``bool`` a bare flag that
    sets ``not default``, ``tuple[str, ...]`` a comma list.  ``arg`` names
    the operator argument when it is not the field's name."""
    meta = {"kw": kw} if arg is None else {"kw": kw, "arg": arg}
    return field(default=default, metadata=meta)


def operand(arg: str) -> Any:
    """A table-name field (no clause) whose table a one-to-one statement
    passes to its operator as the argument ``arg``."""
    return field(metadata={"arg": arg})


def kind(f: Field) -> str:
    """How a clause field's value parses: ``str``, ``int``, ``float``,
    ``bool`` or ``tuple[str, ...]`` (its type without ``| None``)."""
    return f.type.partition(" |")[0]


def _require(ok: bool, message: str) -> None:
    if not ok:
        raise QueryError(f"TundraQL: {message}")


@dataclass(frozen=True)
class Extension:
    """``KEYWORD ON table [WITH table] clause ...`` — a field without a
    clause is a table name (the first follows ON, the next WITH); the
    other fields are :func:`clause` fields, given in any order, each at
    most once."""

    KEYWORD: ClassVar[str]
    #: ``package.module.function`` under tundradb_spark for a statement
    #: whose fields pass one-to-one to its operator; None when the
    #: interpreter builds the call itself
    OPERATOR: ClassVar[str | None] = None
    #: a flag clause written between ON and the table name
    BEFORE_TABLE: ClassVar[str | None] = None

    @classmethod
    def tables(cls) -> list[Field]:
        return [f for f in fields(cls) if "kw" not in f.metadata]

    @classmethod
    def clauses(cls) -> dict[str, Field]:
        return {f.metadata["kw"]: f for f in fields(cls) if "kw" in f.metadata}

    def check(self, seen: set[str]) -> None:
        """Reject values the grammar owns; ``seen`` holds the clause
        keywords the statement gave."""


@dataclass(frozen=True)
class Funnel(Extension):
    """Ordered funnel over per-user event sequences
    (operators.analytics.funnel)."""

    KEYWORD = "FUNNEL"
    OPERATOR = "operators.analytics.funnel"

    table: str = operand("events")
    steps: tuple[str, ...] = clause("STEPS")
    user_col: str = clause("USER", "user_id")
    ts_col: str = clause("TS", "ts")
    type_col: str = clause("TYPE", "event_type")
    within_us: int | None = clause("WITHIN", None)


@dataclass(frozen=True)
class Retention(Extension):
    """Cohort retention by PERIOD-µs buckets
    (operators.analytics.cohort_retention)."""

    KEYWORD = "RETENTION"
    OPERATOR = "operators.analytics.cohort_retention"

    table: str = operand("events")
    user_col: str = clause("USER", "user_id")
    ts_col: str = clause("TS", "ts")
    period_us: int = clause("PERIOD", 86_400_000_000)
    max_offset: int | None = clause("MAX OFFSET", None)

    def check(self, seen: set[str]) -> None:
        _require(self.period_us >= 1, "PERIOD expects a positive integer")


@dataclass(frozen=True)
class Outliers(Extension):
    """Per-group anomalies: z-score (operators.analytics.value_outliers)
    by default, median/MAD (robust_outliers, threshold ``K``) with the
    ROBUST modifier."""

    KEYWORD = "OUTLIERS"

    table: str
    group_col: str = clause("GROUP", "event_type")
    value_col: str = clause("VALUE", "value")
    id_col: str = clause("ID", "event_id")
    z: float = clause("Z", 3.0)
    robust: bool = clause("ROBUST", False)
    k: float = clause("K", 3.5)

    def check(self, seen: set[str]) -> None:
        _require(
            self.robust or self.k == 3.5,
            "OUTLIERS K requires the ROBUST modifier (z-score mode takes Z)",
        )


@dataclass(frozen=True)
class Cusum(Extension):
    """One-sided CUSUM drift alarms, target = each key's own mean
    (operators.relational.cusum_alarms)."""

    KEYWORD = "CUSUM"
    OPERATOR = "operators.relational.cusum_alarms"

    table: str = operand("events")
    slack: float = clause("SLACK")
    threshold: float = clause("THRESHOLD")
    key_col: str = clause("KEY", "user_id")
    value_col: str = clause("VALUE", "value")
    ts_col: str = clause("TS", "ts")
    tiebreak_col: str | None = clause("TIEBREAK", None)


@dataclass(frozen=True)
class Markov(Extension):
    """First-order transition matrix over per-user event sequences
    (operators.analytics.markov_transitions)."""

    KEYWORD = "MARKOV"
    OPERATOR = "operators.analytics.markov_transitions"

    table: str = operand("events")
    user_col: str = clause("USER", "user_id")
    ts_col: str = clause("TS", "ts")
    type_col: str = clause("TYPE", "event_type")
    tiebreak_col: str = clause("TIEBREAK", "event_id")
    min_count: int = clause("MIN", 1)


@dataclass(frozen=True)
class Similarity(Extension):
    """Neighborhood Jaccard over a pair table, or over a registered edge
    type with ``ON EDGES`` (graphs.algorithms.neighborhood_similarity)."""

    KEYWORD = "SIMILARITY"
    BEFORE_TABLE = "EDGES"

    table: str
    edges: bool = clause("EDGES", False)
    src: str | None = clause("SRC", None)  # None → id_a / source_id (EDGES)
    dst: str | None = clause("DST", None)  # None → id_b / target_id (EDGES)
    min_common: int = clause("MIN", 1)
    max_degree: int | None = clause("MAXDEG", None)
    include_adjacent: bool = clause("EXCLUDE ADJACENT", True)

    def check(self, seen: set[str]) -> None:
        _require(self.min_common >= 1, "SIMILARITY MIN must be >= 1")


@dataclass(frozen=True)
class Cooccurrence(Extension):
    """Unordered event-type affinity: distinct-user pair support + lift
    (operators.analytics.event_cooccurrence); CAP is the
    max-types-per-user bot guard."""

    KEYWORD = "COOCCURRENCE"
    OPERATOR = "operators.analytics.event_cooccurrence"

    table: str = operand("events")
    user_col: str = clause("USER", "user_id")
    type_col: str = clause("TYPE", "event_type")
    min_users: int = clause("MIN", 1)
    top_n: int | None = clause("TOP", None)
    max_types_per_user: int | None = clause("CAP", None)


@dataclass(frozen=True)
class Winsorize(Extension):
    """Per-group quantile clipping (operators.analytics.winsorize), the
    repair twin of OUTLIERS."""

    KEYWORD = "WINSORIZE"
    OPERATOR = "operators.analytics.winsorize"

    table: str = operand("events")
    group_col: str = clause("GROUP", "event_type")
    value_col: str = clause("VALUE", "value")
    id_col: str = clause("ID", "event_id")
    p_lo: float = clause("PLO", 0.01)
    p_hi: float = clause("PHI", 0.99)

    def check(self, seen: set[str]) -> None:
        _require(
            0.0 <= self.p_lo <= self.p_hi <= 1.0,
            "WINSORIZE needs 0 <= PLO <= PHI <= 1",
        )


@dataclass(frozen=True)
class Benford(Extension):
    """Per-group first-digit conformance scan
    (operators.analytics.benford_deviation)."""

    KEYWORD = "BENFORD"
    OPERATOR = "operators.analytics.benford_deviation"

    table: str = operand("events")
    group_col: str = clause("GROUP", "event_type")
    value_col: str = clause("VALUE", "value")
    min_n: int = clause("MIN", 100)


@dataclass(frozen=True)
class Ngrams(Extension):
    """Sequential event-type n-grams (operators.analytics.event_ngrams)."""

    KEYWORD = "NGRAMS"
    OPERATOR = "operators.analytics.event_ngrams"

    table: str = operand("events")
    n: int = clause("N", 3)
    user_col: str = clause("USER", "user_id")
    ts_col: str = clause("TS", "ts")
    type_col: str = clause("TYPE", "event_type")
    min_count: int = clause("MIN", 1)
    top_n: int | None = clause("TOP", None)
    tiebreak_col: str | None = clause("TIEBREAK", None)


@dataclass(frozen=True)
class Calibration(Extension):
    """Reliability-diagram bins: mean predicted probability vs observed
    positive rate per equal-width bin
    (pipeline.classify.calibration_bins)."""

    KEYWORD = "CALIBRATION"
    OPERATOR = "pipeline.classify.calibration_bins"

    table: str = operand("scored")
    prob_col: str = clause("PROB", "prob")
    label_col: str = clause("LABEL", "label")
    n_bins: int = clause("BINS", 10)

    def check(self, seen: set[str]) -> None:
        _require(self.n_bins >= 1, "CALIBRATION BINS must be >= 1")


@dataclass(frozen=True)
class Rrf(Extension):
    """Reciprocal-rank fusion of two per-query rankings
    (pipeline.text.rrf_fuse)."""

    KEYWORD = "RRF"
    OPERATOR = "pipeline.text.rrf_fuse"

    table_a: str = operand("ranked_a")
    table_b: str = operand("ranked_b")
    k: int = clause("K", 60)
    top_n: int | None = clause("TOP", None)
    query_col: str = clause("QUERY", "query_id", arg="query_id_col")
    id_col: str = clause("ID", "doc_id")
    score_col: str = clause("SCORE", "score")

    def check(self, seen: set[str]) -> None:
        _require(self.k >= 1, "RRF K must be >= 1")
        _require(self.top_n is None or self.top_n >= 1, "RRF TOP must be >= 1")


@dataclass(frozen=True)
class Drift(Extension):
    """Per-group PSI / Jensen-Shannon / total-variation drift of cur's
    value histogram over [LO, HI) against ref's
    (operators.analytics.distribution_drift).  Range and positivity
    checks live in the operator, shared with the DataFrame API."""

    KEYWORD = "DRIFT"

    cur: str
    ref: str
    group_col: str = clause("GROUP", "event_type")
    value_col: str = clause("VALUE", "value")
    lo: float = clause("LO", 0.0)
    hi: float = clause("HI", 1000.0)
    n_bins: int = clause("BINS", 10)
    min_n: int = clause("MIN", 100)
    eps: float = clause("EPS", 1e-6)

    def check(self, seen: set[str]) -> None:
        _require(self.n_bins >= 1, "DRIFT BINS must be >= 1")
        _require(self.min_n >= 1, "DRIFT MIN must be >= 1")


@dataclass(frozen=True)
class TokenDrift(Extension):
    """Corpus-composition drift: token-level JSD / TV + new-token mass
    between two document snapshots (pipeline.text.token_drift)."""

    KEYWORD = "TOKENDRIFT"
    OPERATOR = "pipeline.text.token_drift"

    cur: str = operand("cur_docs")
    ref: str = operand("ref_docs")
    text_col: str = clause("TEXT", "text")


@dataclass(frozen=True)
class Trend(Extension):
    """Per-group OLS trend of a metric over time from the EPOCH origin,
    a data fact the caller fixes (operators.analytics.value_trend)."""

    KEYWORD = "TREND"
    OPERATOR = "operators.analytics.value_trend"

    table: str = operand("events")
    epoch_us: int = clause("EPOCH")
    group_col: str = clause("GROUP", "event_type")
    value_col: str = clause("VALUE", "value")
    ts_col: str = clause("TS", "ts")
    min_n: int = clause("MIN", 100)

    def check(self, seen: set[str]) -> None:
        _require(self.min_n >= 1, "TREND MIN must be >= 1")


def _check_quality_gate(st: Gates | Report, seen: set[str]) -> None:
    # presence-tracked, not value-compared: `GATES ON docs MIN 0.5;` (the
    # forgot-WITH mistake typed with a default value) must fail exactly
    # like any other quality knob without a weight table
    _require(
        st.weights is not None or not seen & {"BUCKETS", "MIN", "UNIGRAMS"},
        f"{st.KEYWORD} BUCKETS/MIN/UNIGRAMS only apply to the"
        " learned-quality gate (WITH weights ...)",
    )
    _require(
        2 <= st.n_buckets <= 4096,
        f"{st.KEYWORD} BUCKETS must be in [2, 4096] (must match the weight"
        " table's training dimension)",
    )
    _require(
        0.0 <= st.max_bigram_rep <= 1.0, f"{st.KEYWORD} MAXREP must be in [0, 1]"
    )


@dataclass(frozen=True)
class Gates(Extension):
    """The gate-attrition funnel (pipeline.recipe.gate_funnel):
    documents/tokens lost at each prepare_corpus row-level gate per group,
    labeled by the FIRST failing gate; the learned-quality gate joins the
    report when a weight table is given (WITH, tuned by BUCKETS / MIN /
    UNIGRAMS)."""

    KEYWORD = "GATES"

    table: str
    group_col: str = clause("GROUP", "lang")
    text_col: str = clause("TEXT", "text")
    max_bigram_rep: float = clause("MAXREP", 0.5)
    weights: str | None = clause("WITH", None)
    n_buckets: int = clause("BUCKETS", 256)
    min_quality: float = clause("MIN", 0.5)
    bigrams: bool = clause("UNIGRAMS", True)

    def check(self, seen: set[str]) -> None:
        _check_quality_gate(self, seen)


@dataclass(frozen=True)
class Report(Extension):
    """Curation run report v2 (pipeline.recipe.curation_report): funnel
    attrition (at the measured threshold when LABELED/PRECISION are
    given), the picked operating point, exact-dup cluster stats, corpus
    totals, and split-leakage channels (SPLIT col PAIRS tbl), one flat
    (section, metric, grp, value) frame.  The clause-presence contracts
    the operator enforces are checked at parse time, so a typo dies
    before any table is read."""

    KEYWORD = "REPORT"

    table: str
    group_col: str = clause("GROUP", "lang")
    text_col: str = clause("TEXT", "text")
    id_col: str = clause("ID", "doc_id")
    max_bigram_rep: float = clause("MAXREP", 0.5)
    weights: str | None = clause("WITH", None)
    n_buckets: int = clause("BUCKETS", 256)
    min_quality: float = clause("MIN", 0.5)
    bigrams: bool = clause("UNIGRAMS", True)
    labeled: str | None = clause("LABELED", None)
    label_col: str = clause("LABEL", "label")
    target_precision: float | None = clause("PRECISION", None)
    calibration_bins: int = clause("BINS", 10)
    split_col: str | None = clause("SPLIT", None)
    pairs: str | None = clause("PAIRS", None)
    pair_src: str = clause("SRC", "id_a")
    pair_dst: str = clause("DST", "id_b")

    def check(self, seen: set[str]) -> None:
        _check_quality_gate(self, seen)
        _require(
            self.labeled is None or self.weights is not None,
            "REPORT LABELED needs the weight table (WITH weights ...) the"
            " threshold is measured for",
        )
        _require(
            (self.labeled is None) == (self.target_precision is None),
            "REPORT LABELED and PRECISION go together (a labeled table"
            " without a target, or vice versa, would silently fall back to"
            " the hand-set MIN)",
        )
        _require(
            self.labeled is not None or not seen & {"LABEL", "BINS"},
            "REPORT LABEL/BINS only apply to the measured threshold"
            " (LABELED tbl ... PRECISION p)",
        )
        _require(
            self.pairs is not None or not seen & {"SRC", "DST"},
            "REPORT SRC/DST only apply to the duplicate-pair table (PAIRS tbl)",
        )
        _require(
            (self.split_col is None) == (self.pairs is None),
            "REPORT SPLIT and PAIRS go together (the leakage section needs"
            " both the assignment column and the duplicate-pair table)",
        )
        _require(
            self.target_precision is None or 0.0 < self.target_precision <= 1.0,
            "REPORT PRECISION must be in (0, 1]",
        )
        _require(
            1 <= self.calibration_bins <= 100000,
            "REPORT BINS must be in [1, 1e5]",
        )


@dataclass(frozen=True)
class Skew(Extension):
    """Key-distribution skew report (operators.relational.key_skew)."""

    KEYWORD = "SKEW"
    OPERATOR = "operators.relational.key_skew"

    table: str = operand("df")
    key_col: str = clause("KEY")
    top_n: int = clause("TOP", 20)

    def check(self, seen: set[str]) -> None:
        _require(self.top_n >= 1, "SKEW TOP must be >= 1")


@dataclass(frozen=True)
class Fanout(Extension):
    """Exact pre-join cardinality (operators.relational.join_fanout)."""

    KEYWORD = "FANOUT"
    OPERATOR = "operators.relational.join_fanout"

    table_a: str = operand("a")
    table_b: str = operand("b")
    key_a: str = clause("KEY")
    key_b: str | None = clause("KEYB", None)
    top_n: int = clause("TOP", 10)

    def check(self, seen: set[str]) -> None:
        _require(self.top_n >= 1, "FANOUT TOP must be >= 1")


@dataclass(frozen=True)
class Diff(Extension):
    """Snapshot-to-snapshot diff by md5 content digest: the text-corpus
    form (pipeline.dedup.corpus_diff / corpus_diff_summary) or, with
    COLS, the schema-agnostic row form (pipeline.dedup.row_diff)."""

    KEYWORD = "DIFF"

    new: str
    old: str
    id_col: str = clause("ID", "doc_id")
    text_col: str = clause("TEXT", "text")
    cols: tuple[str, ...] | None = clause("COLS", None)
    include_unchanged: bool = clause("ALL", False)
    summary: bool = clause("SUMMARY", False)

    def check(self, seen: set[str]) -> None:
        _require(
            self.cols is None or not self.summary,
            "DIFF SUMMARY applies to the text-corpus form only (COLS diffs"
            " have no summary operator)",
        )


@dataclass(frozen=True)
class Quality(Extension):
    """Learned linear quality-filter scoring (pipeline.classify.lr_score):
    every document scored under a frozen LR weight table
    ``(bucket, weight)`` with the intercept at ``bucket = -1``.  The
    THRESHOLDS form instead returns the measured operating-point curve
    (pipeline.classify.precision_thresholds) of the keep-rule
    ``prob >= edge`` against the label column — the table a pipeline
    reads to pick its gate knob at a precision target."""

    KEYWORD = "QUALITY"

    table: str
    weights: str
    n_buckets: int = clause("BUCKETS", 256)
    id_col: str = clause("ID", "doc_id")
    text_col: str = clause("TEXT", "text")
    bigrams: bool = clause("UNIGRAMS", True)
    label_col: str | None = clause("THRESHOLDS LABEL", None)
    n_bins: int = clause("BINS", 10)

    def check(self, seen: set[str]) -> None:
        _require(
            2 <= self.n_buckets <= 4096,
            "QUALITY BUCKETS must be in [2, 4096] (must match the weight"
            " table's training dimension)",
        )
        _require(
            self.label_col is not None or "BINS" not in seen,
            "QUALITY BINS only applies to the THRESHOLDS form (THRESHOLDS"
            " LABEL col [BINS n])",
        )
        _require(1 <= self.n_bins <= 1000, "QUALITY BINS must be in [1, 1000]")


#: statement keyword → extension class, in declaration order
EXTENSIONS: dict[str, type[Extension]] = {
    cls.KEYWORD: cls for cls in Extension.__subclasses__()
}

Statement = (
    CreateSchema
    | CreateNode
    | CreateEdge
    | Match
    | Update
    | Delete
    | Show
    | Commit
    | Explain
    | Extension
)
