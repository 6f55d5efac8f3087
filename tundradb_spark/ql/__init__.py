"""TundraQL text front end: tokenizer, recursive-descent parser, interpreter.

A brand-new hand-written implementation of the reference language (grammar
spec: antlr/TundraQL.g4:1-173; shell visitor behavior:
apps/tundra_shell.cpp:114-1310).  The grammar is ~170 lines, so a
recursive-descent parser is simpler and dependency-free compared to a
generated one.  The analytics extension statements (FUNNEL, RETENTION, ...,
QUALITY) are each declared once, by their dataclass in ``ql/ast.py``; the
parser, the interpreter's operator call and the shell's hints derive from
it.
"""

from tundradb_spark.ql.interpreter import execute_script, execute_statement
from tundradb_spark.ql.parser import parse_statement, split_statements

__all__ = [
    "parse_statement",
    "split_statements",
    "execute_statement",
    "execute_script",
]
