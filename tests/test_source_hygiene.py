"""Source-hygiene pins (VERDICT r08 #7): every file in the package,
tests, and tools compiles without ANY compile-time warning — in
particular the `invalid escape sequence` SyntaxWarning class that crept
into six oracle SQL literals (regex `\\s` inside non-raw triple-quoted
strings).  Python 3.12 warns; a future version makes it a SyntaxError,
so the pin is forward-compat, not cosmetics.  All oracle literals that
embed regexes are raw strings now; this test keeps them that way."""

from __future__ import annotations

import pathlib
import warnings

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_no_compile_warnings_anywhere():
    bad: list[tuple[str, int | None, str]] = []
    roots = ["taipei_bi_etl_spark", "tests", "tools"]
    files = [p for r in roots for p in (REPO / r).rglob("*.py")]
    files += list(REPO.glob("*.py"))  # bench.py, stress.py, entry
    assert len(files) > 100  # the walk actually found the tree
    for p in files:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            compile(p.read_text(), str(p), "exec")
        bad.extend(
            (str(p.relative_to(REPO)), w.lineno, str(w.message))
            for w in caught
        )
    assert bad == []


def test_one_memo_idiom():
    """Compiled-expression memos are ``functools.cache`` builders; the
    only module-level memo table is ``mango_parity._FRAME_MEMO``, whose
    frames are keyed by the session that owns them."""
    import ast

    bad: list[tuple[str, str]] = []
    for p in sorted((REPO / "taipei_bi_etl_spark").rglob("*.py")):
        tree = ast.parse(p.read_text(), str(p))
        targets = [
            t
            for node in tree.body
            if isinstance(node, ast.Assign)
            for t in node.targets
        ] + [node.target for node in tree.body if isinstance(node, ast.AnnAssign)]
        names = [t.id for t in targets if isinstance(t, ast.Name)]
        names += [
            n
            for node in ast.walk(tree)
            if isinstance(node, ast.Global)
            for n in node.names
        ]
        bad.extend(
            (str(p.relative_to(REPO)), n)
            for n in names
            if n == "_RULE_VOCAB"
            or (n.endswith("_MEMO") and n != "_FRAME_MEMO")
        )
    assert bad == []
