"""One definition per thing: no top-level function name is defined in
two modules of the engine package, no query module is named by the
round that added it, and no oracle text is spelled out twice. Two
copies of one operator or oracle drift apart (different parameters,
different semantics) and callers silently pick whichever they happen
to import. The same holds for settings: the engine reads one custom
conf, and only ``util.shared_pass`` checkpoints. No Spark session:
``ast`` scans plus the registry dict."""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "team_02_spark"


def test_no_top_level_function_defined_twice():
    where: dict[str, list[str]] = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                where[node.name].append(str(path.relative_to(PKG)))
    dupes = {name: mods for name, mods in where.items() if len(mods) > 1}
    assert not dupes, f"defined in more than one module: {dupes}"


def test_no_query_module_named_by_round():
    round_named = sorted(
        p.name for p in (PKG / "queries").glob("*.py")
        if re.match(r"r\d+[a-z]?_", p.name)
    )
    assert not round_named, f"query modules named by round, not topic: {round_named}"


def test_shared_oracle_text_is_one_constant():
    """Keys that share an oracle must share one constant. Equal text
    in two objects means the SQL was written out twice. Two equal plain
    literals in one module compile to one object, so the decorator
    literals are compared in the source as well."""
    from team_02_spark.queries import QUERIES

    first: dict[str, str] = {}
    copies = []
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        other = first.setdefault(spec.oracle, name)
        if QUERIES[other].oracle is not spec.oracle:
            copies.append((other, name))

    literal_at: dict[str, str] = {}
    for path in sorted((PKG / "queries").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "query"):
                continue
            for kw in node.keywords:
                if kw.arg == "oracle" and isinstance(kw.value, ast.Constant) \
                        and isinstance(kw.value.value, str):
                    key = ast.unparse(node.args[0]).strip("'\"")
                    other = literal_at.setdefault(kw.value.value, key)
                    if other != key:
                        copies.append((other, key))
    assert not copies, f"equal oracle text written out more than once: {copies}"


def test_one_custom_conf_and_one_checkpoint_site():
    """Every ``spark.team02.*`` conf is a knob a deployment must know
    about; the materialize-once rule lives in ``util.shared_pass``
    alone, so no other module calls Spark's checkpoints directly."""
    confs, callers = set(), set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                confs.update(re.findall(r"spark\.team02\.[A-Za-z0-9_.]*[A-Za-z0-9_]", node.value))
            elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                    and node.func.attr in ("localCheckpoint", "checkpoint") and rel != "util.py":
                callers.add(f"{rel}:{node.lineno}")
    assert confs == {"spark.team02.sharedPassInlineExplain"}, sorted(confs)
    assert not callers, f"checkpoint calls outside util.shared_pass: {sorted(callers)}"


def test_one_module_knows_the_version_commit_rule():
    """Every versioned dataset (CDC state, write-audit-publish tables)
    commits by one rule, so its parts live in ``util.py`` alone: the
    ``_SUCCESS`` marker, the ``v\\d{12}`` version pattern and its
    ``012d`` name format, and the Hadoop rename that publishes a
    version. Docstrings may describe the rule; code may not restate it.
    No ``_CURRENT`` or ``_LATEST`` pointer name is left anywhere."""
    where: dict[str, set[str]] = defaultdict(set)
    pointers = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docstrings = {
            id(node.body[0].value) for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef))
            and ast.get_docstring(node, clean=False) is not None
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if re.search(r"(?<![A-Za-z0-9])_(CURRENT|LATEST)\b", node.value):
                    pointers.add(rel)
                if id(node) in docstrings:
                    continue
                for part, needle in (("_SUCCESS", "_SUCCESS"),
                                     ("version pattern", r"v\d{12}")):
                    if needle in node.value:
                        where[part].add(rel)
                if node.value == "012d":
                    where["version name"].add(rel)
            elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                    and node.func.attr == "rename" \
                    and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "os"):
                where["rename"].add(rel)
    expected = {part: {"util.py"} for part in
                ("_SUCCESS", "version pattern", "version name", "rename")}
    assert dict(where) == expected, dict(where)
    assert not pointers, f"pointer names left in: {sorted(pointers)}"
