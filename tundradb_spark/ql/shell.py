"""tundra-shell: interactive REPL / script runner for TundraQL.

Usage:
    python -m tundradb_spark.ql.shell [--db PATH] [--unique-db] \
        [--script FILE] [--cpus N] [--detach [--log-file F]]

Replicates the reference shell's modes (apps/tundra_shell.cpp:1860-2051):
interactive REPL (statement per line, ``;``-terminated, multi-line
continuation, readline history — the reference uses linenoise,
libs/linenoise) and ``--script`` batch execution; results print as ASCII
tables via ``DataFrame.show`` (the reference's printTableAsAscii,
apps/tundra_shell.cpp:1706-1800).

Reference script-mode semantics (SCRIPT_EXECUTION_FEATURE.md): statements
run sequentially, execution CONTINUES past failures, per-run statistics are
reported, and the shell stays interactive after the script unless stdin is
closed. ``--unique-db``/``--temp-db``/``-u`` appends a timestamp to the db
path for isolated parallel runs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from dataclasses import MISSING

from tundradb_spark.errors import QueryError, SchemaError
from tundradb_spark.ql import ast
from tundradb_spark.ql.interpreter import execute_statement
from tundradb_spark.ql.parser import split_statements

HISTORY_FILE = os.path.expanduser("~/.tundra_history")


def unique_db_path(base: str | None) -> str:
    """Timestamp-suffixed db dir (reference SCRIPT_EXECUTION_FEATURE.md:
    ``./test-db_20241128_143052_123``)."""
    base = base or "./test-db"
    stamp = time.strftime("%Y%m%d_%H%M%S") + f"_{int(time.time()*1000)%1000:03d}"
    return f"{base}_{stamp}"


def run_script(db, text: str, echo: bool = False, stop_on_error: bool = False) -> int:
    """Execute a script; returns number of failed statements.

    Matches the reference: execution continues past individual failures
    (``stop_on_error=True`` opts out) and statistics are reported."""
    failures = 0
    executed = 0
    for stmt in split_statements(text):
        if echo:
            print(f"tundra> {stmt}")
        executed += 1
        try:
            result = execute_statement(db, stmt)
            if result is not None:
                result.show(100, truncate=False)
        except (QueryError, SchemaError) as e:
            failures += 1
            print(f"ERROR: {e}", file=sys.stderr)
            if stop_on_error:
                break
    print(f"-- {executed} statement(s) executed, {failures} failed")
    return failures


def _syntax(cls: type[ast.Extension]) -> str:
    """The hint template of an extension statement, from its declaration:
    ``ON table [WITH table] CLAUSE value [OPTIONAL value] [FLAG] ...``,
    each value shown by its field name."""
    first, *more = cls.tables()
    lead = f"[{cls.BEFORE_TABLE}] " if cls.BEFORE_TABLE else ""
    parts = [f"ON {lead}{first.name}", *(f"WITH {f.name}" for f in more)]
    for kw, f in cls.clauses().items():
        if kw == cls.BEFORE_TABLE:
            continue
        kind = ast.kind(f)
        text = kw if kind == "bool" else f"{kw} {f.name}"
        if kind.startswith("tuple"):
            text += ", ..."
        parts.append(text if f.default is MISSING else f"[{text}]")
    return " ".join(parts)


#: TundraQL statement keywords offered by tab-completion, mirroring the
#: reference's linenoise completions (apps/tundra_shell.cpp:1860-1954);
#: extension clause keywords are documented by the HINTS templates
#: instead of polluting the global pool
COMPLETION_KEYWORDS = [
    "CREATE", "SCHEMA", "EDGE", "NODE", "UNIQUE", "MATCH", "WHERE",
    "SELECT", "UPDATE", "DELETE", "SET", "SHOW", "EDGES", "TYPES",
    "COMMIT", "FROM", "TO", "AS", "AND", "OR", "ORDER", "BY", "LIMIT",
    "INNER", "LEFT", "RIGHT", "FULL", "SEMI", "ANTI", "APPEND",
    *ast.EXTENSIONS,
    "ON",
]


#: exact-buffer → syntax-template hints, mirroring the reference's
#: linenoise hintsCallback (apps/tundra_shell.cpp:1911-1954) — shown when
#: Tab is pressed at one of these points and no completion applies
HINTS = {
    "CREATE ": "SCHEMA|NODE|EDGE",
    "CREATE SCHEMA ": "name (field1: TYPE, ...)",
    "CREATE NODE ": "type (prop1=value1, ...)",
    "CREATE EDGE ": "type FROM source TO target",
    "MATCH ": "(node1)-[rel]->(node2)",
    "DELETE ": "(u:User) WHERE ... | User(123) | EDGE edge_type",
    "DELETE EDGE ": "edge_type [FROM node] [TO node]",
    "UPDATE ": "User(0) SET field = value | (u:User) SET u.field = value WHERE ...",
    "SHOW ": "EDGES edge_type | EDGE TYPES",
    "SHOW EDGES ": "edge_type_name",
}
HINTS |= {f"{kw} ": _syntax(cls) for kw, cls in ast.EXTENSIONS.items()}
HINTS |= {f"{kw} ON ": HINTS[f"{kw} "].removeprefix("ON ") for kw in ast.EXTENSIONS}


def hint_for(line: str) -> str | None:
    """Syntax hint for the exact line buffer (reference hintsCallback
    semantics: exact-match points only, NULL elsewhere)."""
    return HINTS.get(line)


def completion_candidates(line: str, text: str, db) -> list[str]:
    """Context-aware candidate pool for the word ``text`` being completed
    at the end of ``line`` — the reference's completionCallback branches
    (apps/tundra_shell.cpp:1860-1908), with the hard-coded example names
    replaced by the database's actual schema / edge-type catalogs.  Pure
    function of its inputs so it is unit-testable without a terminal."""
    schemas = sorted(db.catalog.node_schemas)
    edges = sorted(db._edges)
    if not line.endswith(text):
        line = text  # no buffer context available (tests, plain stdin)
    before = line[: len(line) - len(text)].strip().upper()
    upper = line.upper()
    if not line.strip():  # empty buffer: top-level commands only
        pool = ["CREATE", "MATCH", "UPDATE", "DELETE", "SHOW", "COMMIT",
                "EXPLAIN"]
    elif upper.startswith(("DELETE EDGE ", "SHOW EDGES ")):
        pool = edges
    elif upper.startswith("CREATE EDGE "):
        pool = ["UNIQUE", "FROM", "TO"] + edges + schemas
    elif before == "CREATE":
        pool = ["SCHEMA", "NODE", "EDGE", "UNIQUE"] + schemas
    elif before == "SHOW":
        pool = ["EDGES", "EDGE TYPES"]
    elif before == "DELETE":
        pool = ["EDGE"] + schemas
    else:  # mid-statement (incl. a lone first word): the flat pool
        pool = COMPLETION_KEYWORDS + schemas + edges
    tl = text.lower()
    # keywords match case-insensitively and complete in upper case;
    # schema/edge names complete verbatim
    return [w for w in pool if w.lower().startswith(tl)] if text else pool


def make_completer(db):
    """readline completer: context-aware candidates via
    :func:`completion_candidates`; when Tab yields NO candidates but the
    buffer sits at a known syntax point, the reference-style hint template
    is printed below the line instead (linenoise shows it inline as you
    type — readline has no hint channel, so Tab-to-hint is the portable
    equivalent)."""

    def completer(text: str, state: int) -> str | None:
        try:
            import readline

            line = readline.get_line_buffer()
        except ImportError:  # pure-function fallback for tests/minimal builds
            readline, line = None, text
        matches = completion_candidates(line, text, db)
        if not matches and state == 0 and readline is not None:
            hint = hint_for(line)
            if hint:
                sys.stdout.write(f"\n  \x1b[2m{hint}\x1b[0m\n")
                sys.stdout.flush()
                readline.redisplay()
        return matches[state] if state < len(matches) else None

    return completer


def _init_history(db=None) -> None:
    try:
        import readline

        try:
            readline.read_history_file(HISTORY_FILE)
        except OSError:
            pass
        readline.set_history_length(1000)
        if db is not None:
            readline.set_completer(make_completer(db))
            readline.set_completer_delims(" \t\n(),;=<>-[]")
            readline.parse_and_bind("tab: complete")
        import atexit

        atexit.register(lambda: _save_history(readline))
    except ImportError:  # readline absent (e.g. minimal Windows build)
        pass


def _save_history(readline_mod) -> None:
    try:
        readline_mod.write_history_file(HISTORY_FILE)
    except OSError:
        pass


def repl(db) -> None:
    _init_history(db)
    print("tundradb-spark shell — TundraQL; end statements with ';', "
          "Ctrl-D to exit")
    buf: list[str] = []
    while True:
        try:
            prompt = "tundra> " if not buf else "   ...> "
            line = input(prompt)
        except EOFError:
            print()
            return
        except KeyboardInterrupt:
            buf = []
            print()
            continue
        buf.append(line)
        joined = "\n".join(buf)
        if ";" not in line:
            continue
        buf = []
        for stmt in split_statements(joined):
            try:
                result = execute_statement(db, stmt)
                if result is not None:
                    result.show(100, truncate=False)
            except (QueryError, SchemaError) as e:
                print(f"ERROR: {e}", file=sys.stderr)


def _detach(args) -> int:
    """Re-launch this shell as a detached background process running the
    script (``--no-interactive``), output redirected to the log file —
    the reference's detach mode (apps/tundra_shell.cpp:1988-2051) done the
    portable way: a new session-leader child, launcher returns at once."""
    import subprocess

    log_path = args.log_file or f"{args.script}.log"
    cmd = [sys.executable, "-m", "tundradb_spark.ql.shell",
           "--script", args.script, "--no-interactive"]
    if args.db:
        cmd += ["--db", args.db]
    if args.unique_db:
        cmd += ["--unique-db"]
    if args.echo:
        cmd += ["--echo"]
    if args.stop_on_error:
        cmd += ["--stop-on-error"]
    if args.cpus is not None:
        cmd += ["--cpus", str(args.cpus)]
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd,
            stdout=log,
            stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            start_new_session=True,  # survives the launcher's terminal
        )
    print(f"-- detached: pid {proc.pid}, log {log_path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="TundraQL shell (PySpark engine)")
    ap.add_argument("--db", default=None, help="snapshot directory (enables COMMIT)")
    ap.add_argument(
        "-u",
        "--unique-db",
        "--temp-db",
        action="store_true",
        dest="unique_db",
        help="append a timestamp to the db path (isolated parallel runs)",
    )
    ap.add_argument("--script", default=None, help="run a .sql script first")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    ap.add_argument("--echo", action="store_true", help="echo statements (script mode)")
    ap.add_argument(
        "--stop-on-error",
        action="store_true",
        help="abort script on first failure (reference default is continue)",
    )
    ap.add_argument(
        "--no-interactive",
        action="store_true",
        help="exit after --script instead of entering the REPL",
    )
    ap.add_argument(
        "--detach",
        action="store_true",
        help="run --script in a background process (reference "
        "apps/tundra_shell.cpp:1988-2051 detach mode); output goes to "
        "--log-file, the launcher prints the PID and returns immediately",
    )
    ap.add_argument(
        "--log-file",
        default=None,
        help="detached-mode output file (default: <script>.log)",
    )
    args = ap.parse_args(argv)

    if args.detach:
        if not args.script:
            ap.error("--detach requires --script")
        return _detach(args)

    from tundradb_spark.database import Database
    from tundradb_spark.session import get_spark

    db_path = args.db
    if args.unique_db:
        db_path = unique_db_path(db_path)
        print(f"-- database: {db_path}")

    spark = get_spark("tundra-shell", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    db = Database(spark, path=db_path)

    failures = 0
    if args.script:
        with open(args.script) as f:
            text = f.read()
        failures = run_script(
            db, text, echo=args.echo, stop_on_error=args.stop_on_error
        )
        if args.no_interactive or not sys.stdin.isatty():
            return 1 if failures else 0
    repl(db)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
