"""Registry integrity checks.

Defining ``q_<name>`` at module level in ``__spark_entry__.py`` is the
only registration step: ``queries()`` collects every module-level
``q_*`` function. A second top-level ``def`` of the same name silently
replaces the first, the same hazard as the duplicate dict key that
once dropped ``grouping_sets_sql`` from a hand-written catalog, so the
source is parsed with ``ast`` to catch redefinitions the registry
itself cannot see.
"""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENTRY = ROOT / "__spark_entry__.py"
PACKAGE = ROOT / "hdinsight_pyspark_cntk_integration_spark"

# Queries checked on row count and schema only: no oracle can replay
# them bit-for-bit (float/sketch/LSH/decoder paths).
ROWS_ONLY = {"compression_ratio", "multimodal_decode", "pca_top_component", "simhash"}


# Shortest run of consecutive significant lines that counts as a pasted
# block in test_no_repeated_blocks.
_BLOCK_LINES = 8


def _repeated_blocks(files: list[pathlib.Path]) -> list[str]:
    """Every run of _BLOCK_LINES significant lines that appears twice in
    ``files`` read as one stream, so a block pasted into two of them
    counts too. Lines are compared with whitespace collapsed; blank and
    ``#`` lines are skipped."""
    lines = []
    for path in files:
        name = path.relative_to(ROOT)
        for no, raw in enumerate(path.read_text().splitlines(), 1):
            text = " ".join(raw.split())
            if text and not text.startswith("#"):
                lines.append((f"{name}:{no}", text))
    first: dict[tuple[str, ...], str] = {}
    repeats = []
    for i in range(len(lines) - _BLOCK_LINES + 1):
        block = tuple(text for _, text in lines[i : i + _BLOCK_LINES])
        where = lines[i][0]
        if block in first:
            repeats.append(f"{where} repeats {first[block]}: {block[0]}")
        else:
            first[block] = where
    return repeats


def test_no_repeated_blocks():
    """No block is pasted twice in the entry file or in the operator
    package. A shared fixture, SQL fragment, unrolled round or operator
    building block belongs in one named helper that every site uses."""
    for files in ([ENTRY], sorted(PACKAGE.rglob("*.py"))):
        repeats = _repeated_blocks(files)
        assert not repeats, (
            f"{len(repeats)} repeated {_BLOCK_LINES}-line blocks:\n"
            + "\n".join(repeats[:20])
        )


def test_no_duplicate_top_level_defs():
    tree = ast.parse(ENTRY.read_text())
    names = [
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    dups = [k for k, c in collections.Counter(names).items() if c > 1]
    assert not dups, f"top-level names defined twice in __spark_entry__.py: {dups}"


def test_rows_only_set_is_pinned():
    """Every registered query has an oracle except the pinned rows-only
    set: catches a helper accidentally named ``q_*`` and an oracle that
    was silently dropped."""
    import __spark_entry__ as e

    assert set(e.queries()) - set(e.oracle_sql()) == ROWS_ONLY


def test_gate_window_is_50_unique_registered():
    import __spark_entry__ as e

    q = e.queries()
    win = e._GATE_WINDOW
    assert len(win) == 50
    assert len(set(win)) == 50
    assert list(q)[:50] == win, "gate window must be the first 50 entries"


def test_gate_window_is_oracle_paired():
    """Every gate-window query is hash-checked against an oracle, so
    the driver's 50-query gate can read 50/50."""
    import __spark_entry__ as e

    unpaired = [n for n in e._GATE_WINDOW if n not in e.oracle_sql()]
    assert not unpaired, f"gate-window queries with no oracle: {unpaired}"


def test_slow_list_names_existing_tests():
    """Every ``file::test`` entry in tests/slow_tests.txt names a test
    function that still exists, read with ``ast`` (no collection), so a
    deleted or renamed test cannot leave a stale entry behind."""
    root = ENTRY.parent
    names: dict[str, set[str]] = {}
    stale = []
    for entry in (root / "tests" / "slow_tests.txt").read_text().split():
        path, test = entry.split("::")
        if path not in names:
            file = root / path
            body = ast.parse(file.read_text()).body if file.exists() else []
            names[path] = {
                n.name
                for n in body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
        if test not in names[path]:
            stale.append(entry)
    assert not stale, f"slow_tests.txt names tests that do not exist: {stale}"


def test_oracle_keys_subset_of_registry():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    orphans = sorted(set(o) - set(q))
    assert not orphans, f"oracle_sql() keys with no query: {orphans}"
