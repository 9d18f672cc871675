"""Lexer regression tests, JVM-free.

The golden file `lexer_golden.json` maps the SHA-1 of each text in the
tree (suite queries, oracle SQL and its wvlet conversion, string constants
in tests/, code in docs/LANGUAGE.md) to the SHA-1 of its token stream:
every `(kind, text, line, col)`, or the `WvletSyntaxError` message, line
and column.  Texts added since the file was written are not checked;
rewrite it with `python tests/test_lexer.py --write` once a change to the
token stream is intended.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import re
import sys
import warnings

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "lexer_golden.json")
sys.path.insert(0, ROOT)

from wvlet_spark.lexer import WvletSyntaxError, tokenize  # noqa: E402


def _sha(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8", "surrogatepass")).hexdigest()[:16]


def stream_digest(text: str) -> str:
    try:
        out = [[t.kind, t.text, t.line, t.col] for t in tokenize(text)]
    except WvletSyntaxError as ex:
        out = ["error", str(ex), ex.line, ex.col]
    return _sha(json.dumps(out, ensure_ascii=False))


def collect_texts() -> dict[str, list[str]]:
    import __spark_entry__
    from wvlet_spark.sql_import import sql_to_wvlet
    from wvlet_spark.suite import SUITE

    oracle = [sql for _n, sql in sorted(__spark_entry__.oracle_sql().items())]
    converted = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for sql in oracle:
            try:
                converted.append(sql_to_wvlet(sql))
            except Exception:  # unconvertible statements have no output
                pass
    tests = set()
    for path in sorted(glob.glob(os.path.join(HERE, "*.py"))):
        with open(path, encoding="utf-8") as f:
            for node in ast.walk(ast.parse(f.read())):
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    tests.add(node.value)
    with open(os.path.join(ROOT, "docs", "LANGUAGE.md"), encoding="utf-8") as f:
        doc = f.read()
    docs = re.findall(r"```[a-z]*\n(.*?)```", doc, re.S)
    docs += re.findall(r"`([^`\n]+)`", re.sub(r"```.*?```", "", doc, flags=re.S))
    return {
        "suite": [wv for wv, _osql in SUITE.values()],
        "oracle": oracle,
        "converted": converted,
        "tests": sorted(tests),
        "docs": docs,
    }


def golden_of(texts: dict[str, list[str]]) -> dict[str, dict[str, str]]:
    return {src: {_sha(t): stream_digest(t) for t in ts}
            for src, ts in texts.items()}


def test_token_streams_match_golden():
    with open(GOLDEN) as f:
        golden = json.load(f)
    now = golden_of(collect_texts())
    checked = 0
    for src, expected in golden.items():
        found = {k: v for k, v in now[src].items() if k in expected}
        # most texts outlive a change; if few do, the golden is stale
        assert len(found) >= 0.8 * len(expected), (src, len(found))
        assert found == {k: expected[k] for k in found}, src
        checked += len(found)
    assert checked > 1000


@pytest.mark.parametrize("text,message", [
    ("from t where a = 'abc", "unterminated string literal (line 1, col 18)"),
    ('select 1\n  add "x', "unterminated string literal (line 2, col 7)"),
    ('x = """abc\n', "unterminated triple-quote string (line 1, col 5)"),
    ('sql"select', "unterminated string literal (line 1, col 1)"),
    ('a\n s"""x', "unterminated triple-quote string (line 2, col 2)"),
    ("from t /* never\nclosed", "unterminated block comment (line 1, col 8)"),
    ("from `abc", "unterminated backquoted identifier (line 1, col 6)"),
    ("\n\nfrom s`abc", "unterminated interpolated identifier (line 3, col 6)"),
    ("from t\nwhere a ^ 1", "unexpected character '^' (line 2, col 9)"),
    ("select 'é' ~", "unexpected character '~' (line 1, col 12)"),
    ("x = 2²", "unexpected character '²' (line 1, col 6)"),
])
def test_syntax_errors(text, message):
    with pytest.raises(WvletSyntaxError) as err:
        tokenize(text)
    assert str(err.value) == message
    line, col = re.search(r"line (\d+), col (\d+)", message).groups()
    assert (err.value.line, err.value.col) == (int(line), int(col))


def test_token_positions():
    toks = tokenize("from t -- note\n/* a\nb */ where x >= 1.5e3f\n"
                    "  and d < 30s and s = 'it''s' --- doc\n---")
    assert [(t.kind, t.text, t.line, t.col) for t in toks] == [
        ("IDENT", "from", 1, 1), ("IDENT", "t", 1, 6),
        ("IDENT", "where", 3, 6), ("IDENT", "x", 3, 12), ("OP", ">=", 3, 14),
        ("FLOAT", "1.5e3f", 3, 17), ("IDENT", "and", 4, 3),
        ("IDENT", "d", 4, 7), ("OP", "<", 4, 9), ("DURATION", "30s", 4, 11),
        ("IDENT", "and", 4, 15), ("IDENT", "s", 4, 19), ("OP", "=", 4, 21),
        ("STRING", "it's", 4, 23), ("EOF", "", 5, 4)]
    # a backquoted name may span lines too
    toks = tokenize("from `a\nb`\nwhere x")
    assert [(t.kind, t.line, t.col) for t in toks] == [
        ("IDENT", 1, 1), ("BQIDENT", 1, 6), ("IDENT", 3, 1),
        ("IDENT", 3, 7), ("EOF", 3, 8)]


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_lexer.py --write")
    with open(GOLDEN, "w") as f:
        json.dump(golden_of(collect_texts()), f, indent=0, sort_keys=True)
        f.write("\n")
