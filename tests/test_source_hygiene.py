"""Source hygiene: every program file byte-compiles with SyntaxWarning
promoted to an error, so an invalid escape such as ``'\\s'`` in a plain
(non-raw) string literal cannot land silently. Python 3.12+ reports such
escapes as SyntaxWarning and 3.11 as DeprecationWarning; both are errors
here."""

import hashlib
import warnings
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SOURCES = [ROOT / "__spark_entry__.py"] + sorted(
    (ROOT / "tdigest_spark").rglob("*.py")
)


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_compiles_without_syntax_warnings(path):
    with warnings.catch_warnings():
        warnings.simplefilter("error", SyntaxWarning)
        warnings.simplefilter("error", DeprecationWarning)
        compile(path.read_bytes(), str(path), "exec")


# sha256 of the oracle SQL strings that split on the regex ``\s+``,
# recorded while they still used the invalid ``'\s'`` escape: the escape
# fix must leave the SQL that reaches DuckDB byte for byte the same.
ORACLE_SQL_SHA256 = {
    "doc_zipf_slope": "2b6151dbd7afb5d303ac6b70188e0c96df9ccc2e6cd803dcc5c2d1ae0bda9561",
    "doc_bm25_topk": "27c052cd5d3fe7feabdcc4d01a15a5d8b0488154228ae9200ac7c131b4fee54b",
}


def test_oracle_regex_escapes_unchanged():
    import __spark_entry__ as m

    sql = m.oracle_sql()
    for name, digest in ORACLE_SQL_SHA256.items():
        assert "'\\s+'" in sql[name], name
        assert hashlib.sha256(sql[name].encode()).hexdigest() == digest, name


def test_file_scheme_strip_lives_only_in_file_key():
    """Iceberg file identities are compared only through
    ``iceberg.file_key`` and its Spark twin ``iceberg._file_key_expr``; a
    hand-rolled ``^file:/+`` strip anywhere else in ``sources/`` is how one
    file came to be spelled several ways (symlinked, percent-encoded and
    relocated roots each lost deleted rows)."""
    import ast

    allowed = {"file_key", "_file_key_expr"}
    hits = []
    for path in sorted((ROOT / "tdigest_spark" / "sources").rglob("*.py")):
        text = path.read_text()
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(text))
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(text.splitlines(), 1):
            if "file:/+" in line:
                owner = [f for lo, hi, f in funcs if lo <= i <= hi]
                hits.append((path.name, i, owner[-1] if owner else None))
    stray = [h for h in hits if h[0] != "iceberg.py" or h[2] not in allowed]
    assert not stray, stray
    assert len(hits) <= len(allowed), hits
