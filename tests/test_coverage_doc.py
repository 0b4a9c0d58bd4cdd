"""COVERAGE.md is the operator inventory — every q:`name`
it cites must exist in the registry, and every registered query must be
documented there; every module, test and function it cites must exist.
Every engine function and class must have a caller outside ``tests/``,
every option a second value in use, only ``session.py`` writes session
conf or reads the environment, and no stage is copied across
functions."""

from __future__ import annotations

import ast
import os
import re

PACKAGE = "forex_data_pipeline_spark"


def test_coverage_doc_matches_registry():
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    reg = set(catalog.REGISTRY)
    cov = set(
        re.findall(r"q:`([a-z0-9_]+)`", open("COVERAGE.md").read())
    )
    assert reg - cov == set(), f"undocumented queries: {sorted(reg - cov)}"
    assert cov - reg == set(), f"stale COVERAGE refs: {sorted(cov - reg)}"


def test_coverage_doc_paths_exist():
    """Every package module, test and function COVERAGE.md cites must
    exist, so a row cannot outlive the code it points at. Reference
    paths such as ``scripts/extract_forex.py`` are out of scope: they
    name files of the reference pipeline, not of this repo, and no row
    follows one with a function name."""
    doc = open("COVERAGE.md").read()
    modules = set(
        re.findall(
            r"(?<![\w/])(?:forex_data_pipeline_spark/)?"
            r"((?:operators|streaming|sources|pipeline|queries|functions)"
            r"/\w+\.py)",
            doc,
        )
    )
    assert modules, "no package module path found in COVERAGE.md"
    missing = sorted(
        m for m in modules
        if not os.path.isfile(os.path.join("forex_data_pipeline_spark", m))
    )
    assert missing == [], f"COVERAGE cites missing modules: {missing}"

    tests = set(re.findall(r"(?<![\w/])(tests/\w+\.py)(?:::(\w+))?", doc))
    assert tests, "no test path found in COVERAGE.md"
    # a bare `::name` continues the last tests/x.py cited on its line
    for line in doc.splitlines():
        last = None
        for m in re.finditer(r"`(tests/\w+\.py)::\w+`|`::(\w+)`", line):
            if m.group(1):
                last = m.group(1)
            else:
                assert last, f"`::{m.group(2)}` follows no test path: {line}"
                tests.add((last, m.group(2)))
    stale = []
    for path, name in sorted(tests):
        if not os.path.isfile(path):
            stale.append(path)
        elif name and not re.search(
            rf"^(?:def|class) {name}\b", open(path).read(), re.M
        ):
            stale.append(f"{path}::{name}")
    assert stale == [], f"COVERAGE cites missing tests: {stale}"

    # `module.py` `a`/`b`: each name is a top-level or method def there
    cited = re.findall(
        rf"`(?:{PACKAGE}/)?((?:\w+/)?\w+\.py)` ((?:`\w+`/)*`\w+`)", doc
    )
    assert cited, "no `module.py` `name` citation found in COVERAGE.md"
    undefined = []
    for module, names in sorted(set(cited)):
        path = os.path.join(PACKAGE, module)
        if not os.path.isfile(path):
            undefined.append(module)
            continue
        defined = set()
        for stmt in ast.parse(open(path).read(), path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                defined.add(stmt.name)
            if isinstance(stmt, ast.ClassDef):
                defined |= {
                    m.name for m in stmt.body
                    if isinstance(m, ast.FunctionDef)
                }
        undefined += [
            f"{module} {name}" for name in re.findall(r"`(\w+)`", names)
            if name not in defined
        ]
    assert undefined == [], f"COVERAGE cites undefined names: {undefined}"


# Top-level defs kept although no product code reaches them. Each is the
# plain reference form a test compares an optimized form against.
NO_PRODUCT_CALLER = {
    "l2sq": "functions/vector.py: the higher-order-fold squared L2 that "
    "tests/test_properties.py checks l2sq_unrolled against, bit for bit",
    "_lsh_signature_col": "queries/llm_ops.py: the inline LSH signature "
    "that tests/test_opt_r10.py checks the hoisted _lsh_sig_table against",
    "run_batch": "pipeline/medallion.py: the sequential daily run that "
    "tests/test_pipeline.py test_concurrent_two_symbols_overlap_and_"
    "match_sequential checks the threaded runner against",
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


def _referenced(node: ast.AST) -> set[str]:
    """Every name ``node``'s subtree refers to: names, attributes, imports
    and identifier-shaped strings (``setattr``/``getattr`` by name)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.match(n.value):
                out.add(n.value)
    return out


def _import_time(stmt: ast.stmt) -> set[str]:
    """Names a module-level statement evaluates on import: all of it,
    except a def's or class's body (only its decorators, defaults and
    bases run)."""
    if isinstance(stmt, ast.FunctionDef):
        args = stmt.args
        evaluated = [*stmt.decorator_list, *args.defaults,
                     *(d for d in args.kw_defaults if d is not None)]
    elif isinstance(stmt, ast.ClassDef):
        evaluated = [*stmt.decorator_list, *stmt.bases, *stmt.keywords]
    else:
        evaluated = [stmt]
    return set().union(*map(_referenced, evaluated))


def _is_registered(stmt: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id == "register"
        for d in getattr(stmt, "decorator_list", ())
    )


def _product_files() -> list[str]:
    """Every non-test ``.py`` outside the package: the CLIs,
    ``__spark_entry__.py`` and the benchmark harness."""
    found = []
    for root, dirs, files in os.walk("."):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith((".", "__")) and d not in ("tests", PACKAGE)
        )
        found += [os.path.join(root, f) for f in sorted(files)
                  if f.endswith(".py")]
    return found


def _closure(roots: set[str], defs: dict) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, ()):
            todo += _referenced(node) - seen
    return seen


def test_every_engine_def_has_a_product_caller():
    """Every top-level function and class of the package is reached from
    a product root: a registered query, module-level code of the package
    (import-time wiring), or any non-test script outside it. Reach
    follows references by name through reached bodies, so a def that
    only tests call fails here. Delete it with its tests, or give it a
    product caller; ``NO_PRODUCT_CALLER`` lists the few kept as test
    references, each with its reason."""
    defs: dict[str, list] = {}
    roots: set[str] = set()
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            for stmt in ast.parse(open(path).read(), path).body:
                roots |= _import_time(stmt)
                if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                    defs.setdefault(stmt.name, []).append((path, stmt))
                    if _is_registered(stmt):
                        roots.add(stmt.name)
    for path in _product_files():
        roots |= _referenced(ast.parse(open(path).read(), path))

    reached = _closure(roots, defs)
    stale = sorted(set(NO_PRODUCT_CALLER) & reached)
    assert stale == [], f"exceptions that now have a product caller: {stale}"
    reached = _closure(roots | set(NO_PRODUCT_CALLER), defs)
    unreached = sorted(
        f"{path}:{node.lineno} {name}"
        for name, nodes in defs.items() if name not in reached
        for path, node in nodes
    )
    assert unreached == [], (
        f"{len(unreached)} engine defs have no product caller (besides "
        f"the {len(NO_PRODUCT_CALLER)} in NO_PRODUCT_CALLER):\n"
        + "\n".join(unreached)
    )


def _scope_names(node: ast.AST) -> set[str]:
    """Every name ``node``'s subtree loads, including those inside string
    annotations such as ``"Sequence[str]"``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            try:
                out |= _scope_names(ast.parse(n.value, mode="eval"))
            except SyntaxError:
                pass
    return out


def _unused_imports(path: str) -> list[str]:
    """``path:line name`` for each name an import binds that its scope
    (the enclosing function, else the module) never loads. An import
    whose first line carries ``# noqa: F401`` is exempt."""
    src = open(path).read()
    lines = src.splitlines()
    tree = ast.parse(src, path)
    scopes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    unused = []
    for scope in scopes:
        used = _scope_names(scope)
        body = list(ast.iter_child_nodes(scope))
        while body:
            n = body.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue  # its own scope
            body += ast.iter_child_nodes(n)
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(n, "module", None) == "__future__":
                continue
            if re.search(r"#\s*noqa:[^#]*\bF401\b", lines[n.lineno - 1]):
                continue
            for a in n.names:
                name = a.asname or a.name.split(".")[0]
                if name != "*" and name not in used:
                    unused.append((n.lineno, name))
    return [f"{path}:{line} {name}" for line, name in sorted(unused)]


def test_no_unused_imports():
    """No import in the package, ``tests/``, ``scripts/``, ``bench.py`` or
    ``__spark_entry__.py`` binds a name its scope never uses."""
    paths = ["bench.py", "__spark_entry__.py"]
    for top in (PACKAGE, "tests", "scripts"):
        for root, _, files in os.walk(top):
            paths += [os.path.join(root, f) for f in sorted(files)
                      if f.endswith(".py")]
    unused = [u for p in sorted(paths) for u in _unused_imports(p)]
    assert unused == [], (
        f"{len(unused)} unused imports:\n" + "\n".join(unused)
    )


# Options kept although every product call passes them one value: each
# is a seam a test varies, named with the test.
SINGLE_VALUE_OK = {
    ("asof_join_bucketed", "time_bucket"): "tests/test_properties.py "
    "test_asof_join_bucketed_matches_plain and tests/test_skew_bucketing.py "
    "cross 1-minute buckets on data only minutes long",
    ("salted_aggregate", "salts"): "tests/test_properties.py "
    "test_salted_aggregate_salt_invariance varies the salt count",
    ("main", "argv"): "the entry-point convention: python -m passes none, "
    "tests/test_cli.py passes argument lists",
}


def _literal(node: ast.expr) -> str | None:
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return None


def _options(sources: dict[str, str]) -> dict[str, tuple]:
    """``name -> (path, def, {param: (position or None, default)})`` for
    every top-level function and method with a defaulted parameter. A
    name two such defs share is left out: a call cannot tell them apart."""
    found: dict[str, list] = {}
    for path, src in sources.items():
        for stmt in ast.parse(src, path).body:
            if isinstance(stmt, ast.FunctionDef):
                members = [(stmt, False)]
            elif isinstance(stmt, ast.ClassDef):
                members = [(m, True) for m in stmt.body
                           if isinstance(m, ast.FunctionDef)]
            else:
                continue
            for fn, method in members:
                a = fn.args
                positional = a.posonlyargs + a.args
                if method and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                ):
                    positional = positional[1:]  # self / cls
                params = {
                    arg.arg: (positional.index(arg), d)
                    for arg, d in zip(positional[::-1], a.defaults[::-1])
                }
                params.update(
                    (arg.arg, (None, d))
                    for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                )
                if params:
                    found.setdefault(fn.name, []).append((path, fn, params))
    return {name: defs[0] for name, defs in found.items() if len(defs) == 1}


def _single_valued(
    package: dict[str, str], product: dict[str, str]
) -> list[str]:
    """The census: for each option of ``package``, the values ``product``
    calls pass it — by position, by keyword, or by leaving it out (the
    default). A call with ``*``/``**`` or a non-literal argument counts
    as varied. Returns ``path:line name(param) value`` for each option
    with fewer than two values, ``SINGLE_VALUE_OK`` aside."""
    options = _options(package)
    varied = None  # as _literal reads a non-literal argument
    values: dict[tuple[str, str], set] = {
        (name, p): set() for name, (_, _, ps) in options.items() for p in ps
    }
    for path, src in product.items():
        for call in ast.walk(ast.parse(src, path)):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name not in options:
                continue
            starred = any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            )
            keywords = {k.arg: k.value for k in call.keywords}
            for p, (pos, default) in options[name][2].items():
                if starred:
                    value = varied
                elif pos is not None and pos < len(call.args):
                    value = _literal(call.args[pos])
                elif p in keywords:
                    value = _literal(keywords[p])
                else:
                    value = _literal(default) or ast.unparse(default)
                values[(name, p)].add(value)
    return sorted(
        f"{options[name][0]}:{options[name][1].lineno} {name}({p}) "
        f"{' | '.join(sorted(vs)) or 'no product call'}"
        for (name, p), vs in values.items()
        if varied not in vs and len(vs) < 2
        and (name, p) not in SINGLE_VALUE_OK
    )


def _product_sources() -> dict[str, str]:
    sources = _package_sources()
    for path in _product_files():
        sources[path] = open(path).read()
    return sources


def test_every_option_has_two_values_in_use():
    """Every defaulted parameter of a package function or method gets at
    least two values from product code (the package, ``scripts/``,
    ``bench.py``, ``__spark_entry__.py`` and ``perfbench/``): an option
    every caller sets alike is a constant, and the code behind its other
    values runs nowhere. Make it one, or drop the default of a parameter
    that names the caller's data; ``SINGLE_VALUE_OK`` lists the test
    seams, each with the test that varies it."""
    package = _package_sources()
    single = _single_valued(package, _product_sources())
    assert single == [], (
        f"{len(single)} options with one value in product use:\n"
        + "\n".join(single)
    )
    options = _options(package)
    stale = sorted(
        f"{n}({p})" for n, p in SINGLE_VALUE_OK
        if n not in options or p not in options[n][2]
    )
    assert stale == [], f"SINGLE_VALUE_OK names no option: {stale}"


def test_option_census_flags_a_new_single_valued_keyword():
    """A function pasted into a copy of a package module, whose product
    callers set one keyword two ways and never set the other, is flagged
    for the second keyword only; a non-literal argument clears it."""
    path = os.path.join(PACKAGE, "operators", "candles.py")
    src = open(path).read() + (
        "\n\ndef ohlc_again(df, ts_col, *, duration=\"5 minutes\", "
        "fill=False):\n"
        "    return ohlc_window(df, ts_col, \"value\", [], duration=duration)\n"
    )
    calls = (
        "ohlc_again(ev, 'ts')\n"
        "ohlc_again(ev, 'ts', duration='1 hour')\n"
        "ohlc_again(ev, 'ts', fill=False)\n"
    )
    package = {path: src}

    def flagged(calls: str) -> list[str]:
        single = _single_valued(package, {**package, "caller.py": calls})
        return [s.split(" ", 1)[1] for s in single if "ohlc_again" in s]

    assert flagged(calls) == ["ohlc_again(fill) False"]
    assert flagged(calls + "ohlc_again(ev, 'ts', fill=flag)\n") == []


def test_only_session_module_reads_the_environment():
    """No package module but ``session.py`` reads ``os.environ`` or
    ``os.getenv``: engine behaviour is set by arguments, not by
    environment variables, so no option hides outside the census."""
    reads = []
    for path, src in _package_sources().items():
        if path == os.path.join(PACKAGE, "session.py"):
            continue
        reads += [
            f"{path}:{n.lineno} {getattr(n, 'attr', None) or n.module}"
            for n in ast.walk(ast.parse(src, path))
            if (isinstance(n, ast.Attribute)
                and n.attr in ("environ", "environb", "getenv", "getenvb"))
            or (isinstance(n, ast.ImportFrom) and n.module == "os"
                and any(a.name.startswith(("environ", "getenv"))
                        for a in n.names))
        ]
    assert reads == [], "\n".join(reads)


def test_only_session_module_writes_session_conf():
    """No package module but ``session.py`` calls ``.conf.set`` or
    ``.conf.unset``: a query or loader runs on its caller's session,
    which a batch model may share, so an engine-wide setting belongs in
    ``session.RUNTIME_CONFS`` and a query-scoped one on
    ``session.child_session``."""
    writes = []
    for root, _, files in os.walk(PACKAGE):
        for path in sorted(os.path.join(root, f) for f in files):
            if not path.endswith(".py") or path == os.path.join(
                PACKAGE, "session.py"
            ):
                continue
            writes += [
                f"{path}:{n.lineno} .conf.{n.attr}"
                for n in ast.walk(ast.parse(open(path).read(), path))
                if isinstance(n, ast.Attribute)
                and n.attr in ("set", "unset")
                and isinstance(n.value, ast.Attribute)
                and n.value.attr == "conf"
            ]
    assert writes == [], "\n".join(writes)


# Cross-function windows that are alike in shape only: the clone guard
# below skips each pair of functions listed here, for the reason given.
ALIKE_IN_SHAPE = {
    ("ks_drift_exact", "psi_drift_bins"): "two-sided counts then their "
    "per-series totals, over different keys (value vs bin) and names",
    ("udtf_chunk_documents", "udtf_user_session_stats"): "register the "
    "views, register a UDTF, run one SQL text: the UDTF surface itself",
}

_CLONE_MIN_LINES = 8


def _shape(node, memo: dict) -> int:
    """A hash of ``node``'s AST with names, arguments, def names and
    constant values blanked out (constant types kept), so renamed
    copies hash alike. Memoized per node and list of the parsed tree,
    which outlive the scan, so each subtree hashes once."""
    if not isinstance(node, (ast.AST, list)):
        return hash(repr(node))
    key = id(node)
    if key not in memo:
        if isinstance(node, list):
            memo[key] = hash(tuple(_shape(v, memo) for v in node))
        else:
            parts = [type(node).__name__]
            for field, value in ast.iter_fields(node):
                if field in ("ctx", "type_comment"):
                    continue
                if (
                    (field == "id" and isinstance(node, ast.Name))
                    or (field == "arg" and isinstance(node, ast.arg))
                    or (field == "name" and isinstance(node, ast.FunctionDef))
                ):
                    value = "_"
                elif field == "value" and isinstance(node, ast.Constant):
                    value = type(value).__name__
                parts.append(_shape(value, memo))
            memo[key] = hash(tuple(parts))
    return memo[key]


def _blocks(fn: ast.FunctionDef):
    """Every statement list inside ``fn`` but outside its nested defs,
    minus a leading docstring (prose, not code)."""
    todo = [fn]
    while todo:
        node = todo.pop()
        blocks = [getattr(node, f, None) for f in ("body", "orelse",
                                                   "finalbody")]
        blocks += [h.body for h in getattr(node, "handlers", ())]
        for block in blocks:
            if not (isinstance(block, list) and block
                    and isinstance(block[0], ast.stmt)):
                continue
            todo += [s for s in block
                     if not isinstance(s, (ast.FunctionDef, ast.ClassDef))]
            first = block[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first, "value", None), ast.Constant
            ) and isinstance(first.value.value, str):
                block = block[1:]
            yield block


def _clones(sources: dict[str, str]) -> list[str]:
    """Windows of 2+ consecutive statements, spanning at least
    ``_CLONE_MIN_LINES`` lines on both sides, whose shapes repeat in
    another function. Statement PAIRS are hashed first, so only pairs
    that recur anywhere are extended into maximal windows."""
    blocks = []  # (path, function, statements, shapes)
    for path, src in sources.items():
        memo: dict = {}
        for fn in ast.walk(ast.parse(src, path)):
            if isinstance(fn, ast.FunctionDef):
                for block in _blocks(fn):
                    blocks.append(
                        (path, fn, block, [_shape(s, memo) for s in block])
                    )
    starts: dict[tuple, list] = {}
    for b, (_, _, _, shapes) in enumerate(blocks):
        for i in range(len(shapes) - 1):
            starts.setdefault((shapes[i], shapes[i + 1]), []).append((b, i))
    found = set()
    for occ in starts.values():
        for x, (b1, i1) in enumerate(occ):
            for b2, i2 in occ[x + 1:]:
                p1, f1, s1, h1 = blocks[b1]
                p2, f2, s2, h2 = blocks[b2]
                if f1 is f2 or (i1 and i2 and h1[i1 - 1] == h2[i2 - 1]):
                    continue  # same function, or not a maximal window
                if tuple(sorted((f1.name, f2.name))) in ALIKE_IN_SHAPE:
                    continue
                n = 2
                while (i1 + n < len(h1) and i2 + n < len(h2)
                       and h1[i1 + n] == h2[i2 + n]):
                    n += 1
                a = (p1, s1[i1].lineno, s1[i1 + n - 1].end_lineno)
                b = (p2, s2[i2].lineno, s2[i2 + n - 1].end_lineno)
                if min(a[2] - a[1], b[2] - b[1]) + 1 < _CLONE_MIN_LINES:
                    continue
                if a[0] == b[0] and a[1] <= b[2] and b[1] <= a[2]:
                    continue  # a nested def against its enclosing lines
                found.add(
                    f"{a[0]}:{a[1]}-{a[2]} {f1.name} ~ "
                    f"{b[0]}:{b[1]}-{b[2]} {f2.name} ({n} statements)"
                )
    return sorted(found)


def _package_sources() -> dict[str, str]:
    sources = {}
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                sources[path] = open(path).read()
    return sources


def test_no_cloned_stage_across_functions():
    """No two functions of the package share a run of statements that
    differ only in names and constants and span 8 or more lines: a stage
    used twice lives in one helper. ``ALIKE_IN_SHAPE`` lists the pairs
    that match in shape only, each with its reason."""
    clones = _clones(_package_sources())
    assert clones == [], (
        f"{len(clones)} cloned windows; fold each into one helper, or "
        "list a shape-only match in ALIKE_IN_SHAPE:\n" + "\n".join(clones)
    )


def test_clone_guard_flags_a_copied_stage():
    """A renamed copy of a folded stage, pasted into a new function, is
    reported against the helper it copies."""
    path = os.path.join(PACKAGE, "queries", "llm_ops.py")
    src = open(path).read()
    helper = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "_shingle_pair_counts"
    )
    body = "\n".join(
        src.splitlines()[helper.body[1].lineno - 1:helper.end_lineno]
    ).replace("shn", "rows")
    injected = "def pairs_again(spark, sf_dir):\n" + body + "\n"
    clones = _clones({path: src, "injected.py": injected})
    assert [c for c in clones if "_shingle_pair_counts" in c
            and "injected.py" in c and "pairs_again" in c], clones
