"""Engine.sql routes every statement through two ordered tables of
(pattern, guard, handler) entries — ``Engine._CLI_COMMANDS`` and
``Engine._STATEMENTS`` — run by one loop (``Engine._dispatch``).

These checks read ``engine.py``'s syntax tree only; no Spark session:

- ``Engine.sql`` and ``Engine._explain_dml`` match no ``_*_STMT``
  pattern themselves: the table loop is the one place that does.
- Every ``_*_STMT`` pattern defined in ``engine.py`` is a table entry
  or is used by a named helper (``_multi_insert_branches`` re-parses
  branch heads with ``_INSERT_STMT``).
- Every entry names an Engine method taking ``(self, m)``, and every
  guarded entry's pattern has the ``table`` group its guard reads.
- No ``spark.catalog.list*`` call remains in the package (each launches
  Spark jobs; DESCRIBE answers the same questions on the driver).
- Only the lexer in ``hiveql_rewrites.py`` knows literal syntax: no
  other function in ``engine.py`` or ``hiveql_rewrites.py`` compares a
  character with a quote char. ``_invalid_sdf_pattern`` parses
  SimpleDateFormat's own quoting, a different grammar.
- Only ``sources/writers.py`` knows the partition-directory encoding:
  no other module of the package names ``_escape_path_name`` or
  ``_unescape_path_name``. The rest goes through ``_partition_rel_dir``
  and ``partition_values``.
- Only ``_align_insert`` knows Hive's store-assignment rule: no other
  function of the package calls ``_store_cast``.
- Only ``_fresh_stats`` decides whether gathered stats may be served:
  no other function reads a stats record's ``"fp"`` or the session's
  verified fingerprint (a table descriptor's ``fp``), and the five
  per-kind stats stores it replaced are gone.
- One descriptor per table and one per view: ``Engine.__init__``
  assigns no per-table dict other than ``metastore``, ``views`` and
  ``_catalog_schema_memo``, and the per-field stores they replaced are
  named nowhere in ``engine.py``.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "hive_2_3_2_spark"
TREE = ast.parse((PKG / "engine.py").read_text(encoding="utf-8"))
ENGINE = next(
    n for n in TREE.body if isinstance(n, ast.ClassDef) and n.name == "Engine"
)
METHODS = {
    n.name: n for n in ENGINE.body if isinstance(n, ast.FunctionDef)
}
STMT_NAME = re.compile(r"^_\w+_STMT$")
GUARDS = {"_PATH_TABLE", "_ANY_TABLE"}


def _module_patterns() -> dict[str, str]:
    """Module-level ``NAME = re.compile("literal", ...)`` → literal."""
    out = {}
    for node in TREE.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Attribute)
            and node.value.func.attr == "compile"
            and isinstance(node.value.args[0], ast.Constant)
        ):
            out[node.targets[0].id] = node.value.args[0].value
    return out


def _table(name: str) -> list[tuple[str, str | None, str]]:
    for node in ENGINE.body:
        target = (
            node.target if isinstance(node, ast.AnnAssign)
            else node.targets[0] if isinstance(node, ast.Assign)
            else None
        )
        if isinstance(target, ast.Name) and target.id == name:
            entries = []
            for elt in node.value.elts:
                pattern, guard, handler = elt.elts
                entries.append((
                    pattern.id,
                    None if isinstance(guard, ast.Constant) else guard.id,
                    handler.value,
                ))
            return entries
    raise AssertionError(f"Engine.{name} not found")


def _tables() -> list[list[tuple[str, str | None, str]]]:
    return [_table("_CLI_COMMANDS"), _table("_STATEMENTS")]


def test_sql_and_explain_match_no_statement_pattern():
    for name in ("sql", "_explain_dml"):
        calls = [
            node.func.value.id
            for node in ast.walk(METHODS[name])
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("match", "search", "fullmatch")
            and isinstance(node.func.value, ast.Name)
            and STMT_NAME.match(node.func.value.id)
        ]
        assert calls == [], f"Engine.{name} matches {calls} itself"


def test_every_statement_pattern_is_an_entry_or_a_helper():
    defined = {n for n in _module_patterns() if STMT_NAME.match(n)}
    in_tables = {p for table in _tables() for p, _g, _h in table}
    in_helpers = {
        node.id
        for name, fn in METHODS.items()
        if name not in ("sql", "_explain_dml")
        for node in ast.walk(fn)
        if isinstance(node, ast.Name)
    }
    assert sorted(defined - in_tables - in_helpers) == []


def test_entries_name_match_handlers_and_guarded_patterns_have_a_table():
    patterns = _module_patterns()
    for table in _tables():
        for pattern, guard, handler in table:
            assert handler in METHODS, f"no Engine.{handler}"
            args = [a.arg for a in METHODS[handler].args.args]
            assert args == ["self", "m"], (handler, args)
            assert guard is None or guard in GUARDS, (pattern, guard)
            if guard is not None:
                groups = re.compile(patterns[pattern]).groupindex
                assert "table" in groups, f"{pattern} has no table group"


def test_no_catalog_list_calls_in_package():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr.startswith("list")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "catalog"
            ):
                found.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert found == []


#: the lexer, and SimpleDateFormat's quoting
QUOTE_AWARE = {"_code_matches", "_span_end", "_invalid_sdf_pattern"}


def _is_quote_char(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and 0 < len(node.value) <= 3
        and bool(set(node.value) & set("'\"`"))
    )


def _quote_compares(tree: ast.AST, scope: str = "") -> list[str]:
    """``scope:line`` of every comparison of a value with a quote char
    (``ch == "'"``, ``ch in "'\""``) in a function outside the lexer. A
    quote char on the left of ``in`` searches a whole text and is not a
    character comparison."""
    found = []
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            inner = f"{scope}.{node.name}" if scope else node.name
            if inner not in QUOTE_AWARE:
                found += _quote_compares(node, inner)
            continue
        if isinstance(node, ast.Compare):
            sides = list(node.comparators)
            if not isinstance(node.ops[0], (ast.In, ast.NotIn)):
                sides.append(node.left)
            if any(_is_quote_char(side) for side in sides):
                found.append(f"{scope}:{node.lineno}")
        found += _quote_compares(node, scope)
    return found


def test_only_the_lexer_knows_literal_syntax():
    rewrites = ast.parse(
        (PKG / "hiveql_rewrites.py").read_text(encoding="utf-8")
    )
    assert _quote_compares(TREE) == []
    assert _quote_compares(rewrites) == []
    defined = {
        node.name
        for tree in (TREE, rewrites)
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
    }
    assert "_split_top_args" not in defined
    assert "_rewrite_noop_ptf_calls" not in defined


PATH_CODEC = {"_escape_path_name", "_unescape_path_name"}


def test_only_the_writers_know_partition_directory_encoding():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "sources" / "writers.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            names = (
                [a.name for a in node.names]
                if isinstance(node, ast.ImportFrom)
                else [node.id] if isinstance(node, ast.Name)
                else [node.attr] if isinstance(node, ast.Attribute)
                else []
            )
            if PATH_CODEC & set(names):
                found.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert found == []


def test_only_the_insert_aligner_calls_store_cast():
    aligner = next(
        n for n in TREE.body
        if isinstance(n, ast.FunctionDef) and n.name == "_align_insert"
    )
    inside = range(aligner.lineno, aligner.end_lineno + 1)
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call) and "_store_cast" in (
                getattr(node.func, "id", None), getattr(node.func, "attr", None)
            ):
                calls.append((path.name, node.lineno))
    assert calls
    outside = [c for c in calls if c[0] != "engine.py" or c[1] not in inside]
    assert outside == []


REMOVED_STATS_STORES = {
    "basic_stats", "column_stats", "column_stats_fp", "part_basic_stats",
    "part_column_stats", "_prewrite_stats_snapshot",
    "_partitioned_stats_sources", "_table_fingerprint",
}


def _fingerprint_reads(fn: ast.FunctionDef) -> list[int]:
    """Lines of ``fn`` that read a stats record's ``"fp"`` key
    (``rec["fp"]``, ``rec.get("fp")``, ``"fp" in rec``) or the session's
    verified fingerprint (``desc.fp``)."""

    def is_fp(node: ast.AST) -> bool:
        return isinstance(node, ast.Constant) and node.value == "fp"

    lines = []
    for node in ast.walk(fn):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load):
            hit = is_fp(node.slice)
        elif isinstance(node, ast.Attribute):
            hit = node.attr == "fp" and isinstance(node.ctx, ast.Load)
        elif isinstance(node, ast.Call) and isinstance(
            node.func, ast.Attribute
        ):
            hit = (
                node.func.attr in ("get", "pop", "setdefault")
                and bool(node.args) and is_fp(node.args[0])
            )
        elif isinstance(node, ast.Compare):
            hit = is_fp(node.left) and isinstance(
                node.ops[0], (ast.In, ast.NotIn)
            )
        else:
            hit = False
        if hit:
            lines.append(node.lineno)
    return lines


def test_only_fresh_stats_reads_a_stats_fingerprint():
    assert _fingerprint_reads(METHODS["_fresh_stats"])
    outside = [
        f"{fn.name}:{line}"
        for fn in ast.walk(TREE)
        if isinstance(fn, ast.FunctionDef) and fn.name != "_fresh_stats"
        for line in _fingerprint_reads(fn)
    ]
    assert outside == []
    names = {
        getattr(node, "attr", None) or getattr(node, "name", None)
        for node in ast.walk(TREE)
    }
    assert names & REMOVED_STATS_STORES == set()


#: the per-field stores one TableDesc / ViewDesc per name replaced
REMOVED_TABLE_STORES = {
    "tables", "table_paths", "table_partitions", "table_schemas",
    "schema_epochs", "table_format", "partition_formats", "table_props",
    "table_constraints", "table_stats", "_fp_memo", "temp_tables",
    "temp_shadowed", "view_partitions", "view_aliases",
}
#: ``Engine.__init__`` dicts keyed by something other than a table:
#: conf keys, resource kinds, macro/function names, database names
SESSION_DICTS = {
    "hiveconf", "resources", "macros", "functions", "ptf_aliases",
    "fn_aliases", "db_props",
}


def test_one_descriptor_per_table_and_view():
    dicts = set()
    for node in ast.walk(METHODS["__init__"]):
        if isinstance(node, ast.AnnAssign):
            target, value = node.target, node.value
            is_dict = isinstance(value, ast.Dict) or (
                isinstance(node.annotation, ast.Subscript)
                and getattr(node.annotation.value, "id", None) == "dict"
            )
        elif isinstance(node, ast.Assign) and len(node.targets) == 1:
            target, value = node.targets[0], node.value
            is_dict = isinstance(value, ast.Dict)
        else:
            continue
        if (
            is_dict
            and isinstance(target, ast.Attribute)
            and getattr(target.value, "id", None) == "self"
        ):
            dicts.add(target.attr)
    assert dicts - SESSION_DICTS == {
        "metastore", "views", "_catalog_schema_memo"
    }
    named = {
        node.attr for node in ast.walk(TREE) if isinstance(node, ast.Attribute)
    }
    assert named & REMOVED_TABLE_STORES == set()
