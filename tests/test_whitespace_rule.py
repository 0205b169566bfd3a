"""The document family's whitespace rule is written once.

``operators/textstats.py::WHITESPACE`` is the pattern that the Spark
tokenizer ``tokens``, its Python twin ``reference_tokens`` and
``exact_dedup``'s normalization share, and it must split as the DuckDB
oracle SQL's '\\s+' does (RE2's \\s, which Java's \\s is not). This test
walks the string constants of the package and fails when a second
whitespace-run pattern appears, e.g. an inline
``split(trim(x), r"\\s+")``. The oracle SQL is skipped: the ``oracle=``
arguments and the ``*_SQL`` strings keep their own text byte-identical.
Docstrings are skipped too.
"""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "cyclegraph_spark"

# a whitespace run: \s+ or a class of whitespace characters holding \n,
# then + (extract/text.py's horizontal-space run [ \t\r\f\v]+ is the
# extractor's own rule, not a tokenizer)
_RUN = r"(?:\\s|\[(?=[^\]]*\\n)(?:\\[stnfrv]|\\x0[bB]| )+\])\+"
_PATTERN = re.compile(_RUN)
# the same inside a Spark SQL expression string
_IN_SQL = re.compile(rf"(?:split|regexp_replace)\w*\(.*'{_RUN}'", re.DOTALL)


def _skipped(tree):
    """ids of the nodes whose strings are not package code: oracle SQL
    and docstrings."""
    skip = []
    for node in ast.walk(tree):
        if isinstance(node, ast.keyword) and node.arg == "oracle":
            skip.append(node.value)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(getattr(t, "id", "").endswith("_SQL") for t in targets):
                skip.append(node.value)
        elif isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            skip.append(node.value)
    return {id(n) for s in skip for n in ast.walk(s)}


def _whitespace_patterns():
    """(file, line) of each string constant that is a whitespace-run
    pattern or a SQL expression splitting or normalizing on one."""
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        skip = _skipped(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in skip
            ):
                s = node.value.replace("\\\\", "\\")
                if _PATTERN.fullmatch(s) or _IN_SQL.search(s):
                    yield f"{path.relative_to(PKG.parent)}:{node.lineno}"


def test_whitespace_rule_is_written_once():
    # the matchers see the forms a copy would take, and only those
    for s in (r"\s+", r"[ \t\n\f\r]+", r"[\t\n\x0b\f\r ]+"):
        assert _PATTERN.fullmatch(s), s
    for s in (r"\s*", r"[ \t\r\f\v]+"):
        assert not _PATTERN.fullmatch(s), s
    assert _IN_SQL.search("split(trim(text), '\\s+')")
    assert _IN_SQL.search("regexp_replace(lower(text), '[ \\t\\n]+', ' ')")
    assert not _IN_SQL.search(r"@prefix\s+(\w*)")

    found = list(_whitespace_patterns())
    assert len(found) == 1 and found[0].startswith(
        "cyclegraph_spark/operators/textstats.py:"
    ), (
        "the whitespace split/normalize pattern must appear once, as "
        "textstats.WHITESPACE; use textstats.tokens/token_count or "
        f"WHITESPACE instead of: {found}"
    )
