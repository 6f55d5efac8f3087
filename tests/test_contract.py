"""Driver-contract invariants: the registry shape the CORRECTNESS gate
depends on, pinned so an edit to ``SEATED`` or the registry cannot
silently break it."""

import ast
import pathlib
from collections import Counter

import pytest

import __spark_entry__ as entry
from tundradb_spark.pipeline import queries as pipeline_queries

SF_DIR = "/root/testdata/sf0.001"


def test_window_is_exactly_50_oracle_bearing_rows():
    seated = entry.SEATED
    assert len(seated) == 50, len(seated)
    dups = [n for n, k in Counter(seated).items() if k > 1]
    assert not dups, f"SEATED names repeated: {dups}"
    assert set(seated) <= set(entry.QUERIES), set(seated) - set(entry.QUERIES)
    # the driver reads rows in SEATED order, query and oracle alike
    assert list(entry.queries()) == list(seated)
    assert list(entry.oracle_sql()) == list(seated)


def test_parked_registry_is_oracle_consistent():
    pq, po = entry.parked_queries(), entry.parked_oracle_sql()
    assert set(pq) == set(po), set(pq) ^ set(po)
    assert not set(pq) & set(entry.SEATED), (
        "a query may not be seated AND parked"
    )


def test_every_registered_query_has_callable_and_oracle():
    qs, os_ = entry.QUERIES, entry.ORACLES
    assert set(qs) == set(os_), set(qs) ^ set(os_)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in os_.values())


def _registered_names(module, registry: str) -> list[str]:
    """Every name a module registers into ``registry``: the keys of its
    dict literal plus each ``registry["name"] = ...`` statement."""
    names = []
    for node in ast.parse(pathlib.Path(module.__file__).read_text()).body:
        if (
            isinstance(node, ast.AnnAssign)
            and node.target.id == registry
            and isinstance(node.value, ast.Dict)
        ):
            names += [k.value for k in node.value.keys if k is not None]
        elif isinstance(node, ast.Assign):
            t = node.targets[0]
            if (
                isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id == registry
            ):
                names.append(t.slice.value)
    return names


@pytest.mark.parametrize(
    "registry, pipeline_registry",
    [("QUERIES", "PIPELINE_QUERIES"), ("ORACLES", "PIPELINE_ORACLES")],
)
def test_each_query_is_registered_once(registry, pipeline_registry):
    """A second registration of a name would silently replace the first;
    every name must appear at exactly one registration site."""
    names = _registered_names(entry, registry) + _registered_names(
        pipeline_queries, pipeline_registry
    )
    dups = [n for n, k in Counter(names).items() if k > 1]
    assert not dups, f"{registry}: registered more than once: {dups}"
    assert set(names) == set(getattr(entry, registry))


def _flat_types(dt):
    """dt + every nested dataType (struct fields only — a top-level
    Array/Map is the failure class regardless of its element type)."""
    from pyspark.sql import types as T

    yield dt
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _flat_types(f.dataType)


@pytest.mark.parametrize(
    "name", sorted(set(entry.queries()) | set(entry.parked_queries()))
)
def test_seated_schema_is_driver_canonicalizable(spark, name):
    """No seated OR parked query may return Array/Map (or struct-of-them)
    columns: the driver's pandas canonicalizer sorts+hashes cell values
    and dies on unhashable list/dict cells (r6's one red row, q_encode,
    was exactly this — correct values, uncheckable shape).  Digest such
    columns to a scalar (see q_encode's ids_md5) before seating.  Parked
    rows are covered too (r7 verdict item 7) so a future rotation can
    never seat an uncanonicalizable shape.

    r13 (r12 verdict items 2/3): DecimalType joins the banned class.
    Evidence, not theory: the ONLY seated r12 query with decimal output
    columns (q_join_fanout, decimal(38,0)) was the ONLY hash mismatch
    in six rounds, with bit-identical Spark-vs-DuckDB values verified —
    Spark's Decimal objects and DuckDB's decimal land as different
    pandas dtypes and a type-sensitive value hash diverges.  Keep
    decimal math INTERNAL; render outputs as string (exact counts) or
    the house round-to-double (metrics) before seating."""
    from pyspark.sql import types as T

    fn = {**entry.parked_queries(), **entry.queries()}[name]
    df = fn(spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if any(
            isinstance(t, (T.ArrayType, T.MapType, T.DecimalType))
            for t in _flat_types(f.dataType)
        )
    ]
    assert not bad, (
        f"{name}: driver-unhashable Array/Map/Decimal columns {bad} — "
        "digest/render them to scalars (string or rounded double) before "
        "seating (driver canonicalizer contract)"
    )


def _checkpoint_calls() -> tuple[list[str], int]:
    """``.localCheckpoint(`` / ``.checkpoint(`` calls in the package and
    the driver entry: those outside ``session.materialize``, and the
    number inside it."""
    root = pathlib.Path(entry.__file__).parent
    files = sorted((root / "tundradb_spark").rglob("*.py"))
    stray, inside = [], 0
    for path in files + [root / "__spark_entry__.py"]:
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == root / "tundradb_spark" / "session.py":
            (fn,) = [
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "materialize"
            ]
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                if id(node) in allowed:
                    inside += 1
                else:
                    stray.append(f"{path.relative_to(root)}:{node.lineno}")
    return stray, inside


def test_every_checkpoint_goes_through_session_materialize():
    """One materialization path: the local-vs-reliable and eager-vs-lazy
    choice is made in ``session.materialize`` alone, so a checkpoint dir
    set on the cluster reaches every materialized frame."""
    stray, inside = _checkpoint_calls()
    assert not stray, stray
    assert inside == 2  # the reliable and the local branch


def _hand_built_table_paths() -> list[str]:
    """f-strings that interpolate ``sf_dir`` and end in ``.parquet`` in the
    package and the driver entry, outside ``sources/tables.py``."""
    root = pathlib.Path(entry.__file__).parent
    files = sorted((root / "tundradb_spark").rglob("*.py"))
    hits = []
    for path in files + [root / "__spark_entry__.py"]:
        if path == root / "tundradb_spark" / "sources" / "tables.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.JoinedStr)
                and any(
                    isinstance(v, ast.FormattedValue)
                    and isinstance(v.value, ast.Name)
                    and v.value.id == "sf_dir"
                    for v in node.values
                )
                and isinstance(node.values[-1], ast.Constant)
                and node.values[-1].value.endswith(".parquet")
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    return hits


def test_every_input_table_is_read_through_sources_tables():
    """One way to read a table: only ``sources.tables`` knows the
    ``<sf_dir>/<name>.parquet`` layout, so every read shares its cached
    schema and the session's runtime confs."""
    hits = _hand_built_table_paths()
    assert not hits, hits


def _streaming_sink_calls() -> dict[str, list[str]]:
    """The top-level functions of ``streaming/ops.py`` that call
    ``.foreachBatch(`` or ``.isEmpty(``, or hold the
    ``"partitionOverwriteMode"`` literal, one entry per occurrence."""
    root = pathlib.Path(entry.__file__).parent
    tree = ast.parse((root / "tundradb_spark/streaming/ops.py").read_text())
    found = {"foreachBatch": [], "isEmpty": [], "partitionOverwriteMode": []}
    for fn in tree.body:
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("foreachBatch", "isEmpty")
            ):
                found[node.func.attr].append(fn.name)
            elif (
                isinstance(node, ast.Constant)
                and node.value == "partitionOverwriteMode"
            ):
                found[node.value].append(fn.name)
    return found


def test_streaming_state_tables_have_one_writer():
    """One way to write a streaming state table: every ``foreachBatch``
    operator starts through ``_foreach_batch``, which skips empty
    micro-batches, and every per-epoch write goes through
    ``_write_epoch``, which holds the replay rule (dynamic partition
    overwrite on ``epoch``)."""
    assert _streaming_sink_calls() == {
        "foreachBatch": ["_foreach_batch"],
        "isEmpty": ["_foreach_batch"],
        "partitionOverwriteMode": ["_write_epoch"],
    }
