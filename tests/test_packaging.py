"""The spark-submit --py-files artifact: deterministic and executor-loadable.

The north rule's batch entry point is ``spark-submit --py-files`` on a
multi-executor cluster; these tests pin the two properties the artifact
needs there: byte-determinism (so the zip can be content-addressed and
cached in cluster storage) and zipimport-ability (executors extend
``sys.path`` with the zip — the package must import from inside it, which
e.g. ``__file__``-relative data loading would break).
"""

import functools
import os
import subprocess
import sys

from scripts.make_pyfiles import build_zip


def test_pyfiles_zip_deterministic(tmp_path):
    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    m1 = build_zip(z1)
    m2 = build_zip(z2)
    assert m1 == m2
    assert open(z1, "rb").read() == open(z2, "rb").read()
    assert any(m.endswith("blurrily_spark/__init__.py") for m in m1)
    assert any(m.endswith("plans/pipeline.py") for m in m1)
    assert not any("__pycache__" in m or m.endswith(".pyc") for m in m1)


def test_pyfiles_zip_imports_like_an_executor(tmp_path):
    zpath = str(tmp_path / "blurrily_spark.zip")
    build_zip(zpath)
    # Fresh interpreter, cwd away from the repo, repo stripped from the
    # path: the ONLY way blurrily_spark can resolve is through the zip --
    # exactly an executor's view after --py-files.
    code = (
        "import sys, blurrily_spark, blurrily_spark.plans.pipeline as p; "
        "print(blurrily_spark.__file__); print(p.__name__)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zpath
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    loc, name = proc.stdout.strip().splitlines()
    assert loc.startswith(zpath + os.sep), loc
    assert name == "blurrily_spark.plans.pipeline"


def _root_files(root: str) -> list[str]:
    """Repo-relative paths of the non-test entry points: ``bench.py``,
    ``__spark_entry__.py``, ``perfbench/*.py`` and ``scripts/*.py``
    (``test_*`` files excluded)."""
    import glob

    roots = [os.path.join(root, "bench.py"), os.path.join(root, "__spark_entry__.py")]
    for d in ("perfbench", "scripts"):
        roots += sorted(glob.glob(os.path.join(root, d, "*.py")))
    return [
        os.path.relpath(p, root)
        for p in roots
        if not os.path.basename(p).startswith("test_")
    ]


def _module_file(root: str, name: str, from_dir: str) -> str | None:
    """Repo-relative path of the module a dotted ``name`` imports: against
    the repo root, or a bare name against the importing script's own
    directory (it is ``sys.path[0]`` when run); None outside the repo."""
    for base in (root, from_dir):
        stem = os.path.join(base, *name.split("."))
        for cand in (stem + ".py", os.path.join(stem, "__init__.py")):
            if os.path.isfile(cand):
                return os.path.relpath(cand, root)
    return None


def _from_module(rel: str, node) -> str:
    """The absolute dotted module of a ``from ... import`` node in the repo
    file ``rel``: level 1 is the importing module's package, 2 its parent."""
    pkg = os.path.dirname(rel).split(os.sep)
    base = pkg[: len(pkg) - node.level + 1] if node.level else []
    return ".".join(base + ([node.module] if node.module else []))


def _reached_modules(root: str) -> set[str]:
    """Repo modules the non-test entry points (:func:`_root_files`)
    import, transitively. Every ``import`` and
    ``from ... import`` node counts, including those inside function
    bodies. Reaching a submodule reaches its parent packages' ``__init__``
    too, as importing it executes them. Returns repo-relative paths.
    """
    import ast

    def with_parents(name: str) -> list[str]:
        parts = name.split(".")
        return [".".join(parts[: i + 1]) for i in range(len(parts))]

    def imported_names(rel: str) -> list[str]:
        path = os.path.join(root, rel)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        names: list[str] = []
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    names.extend(with_parents(a.name))
            elif isinstance(node, ast.ImportFrom):
                mod = _from_module(rel, node)
                names.extend(with_parents(mod))
                # "from pkg import name" imports the submodule pkg.name if any
                names.extend(f"{mod}.{a.name}" for a in node.names)
        return names

    todo = _root_files(root)
    seen: set[str] = set()
    while todo:
        rel = todo.pop()
        if rel in seen:
            continue
        seen.add(rel)
        here = os.path.join(root, os.path.dirname(rel))
        for name in imported_names(rel):
            hit = _module_file(root, name, here)
            if hit is not None and hit not in seen:
                todo.append(hit)
    return seen


def _package_files(root: str) -> list[str]:
    """Repo-relative paths of every module under ``blurrily_spark/``."""
    import glob

    pattern = os.path.join(root, "blurrily_spark", "**", "*.py")
    return sorted(os.path.relpath(p, root) for p in glob.glob(pattern, recursive=True))


def test_every_package_module_is_reached_from_a_non_test_root():
    """Code that only tests import is not part of the engine: every module
    under ``blurrily_spark/`` must be imported, directly or transitively,
    by the benchmark, the entry point, perfbench or a script."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reached = _reached_modules(root)
    assert "blurrily_spark/plans/pipeline.py" in reached
    assert sorted(set(_package_files(root)) - reached) == []


@functools.lru_cache(maxsize=None)
def _scope(root: str, rel: str) -> tuple[dict, dict, dict]:
    """``(constants, imports, defs)`` of the repo file ``rel``, each over
    the names the file binds in one way only (a name bound twice -- say
    a module constant and a parameter -- is in none of them):

    * ``constants``: a name bound once, by a module-level assignment of a
      literal (``ast.literal_eval``), to that literal's node;
    * ``imports``: a name bound only by imports of one target, to
      ``(file, None)`` for a repo module and ``(file, attr)`` for the name
      ``attr`` of the repo module ``file``;
    * ``defs``: a module-level function or class bound once, to its node.

    Methods are not bindings of the module: a class body is no enclosing
    scope of the functions that call a module name."""
    import ast
    from collections import Counter

    path = os.path.join(root, rel)
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    here = os.path.join(root, os.path.dirname(rel))
    methods = {
        id(m)
        for c in ast.walk(tree)
        if isinstance(c, ast.ClassDef)
        for m in c.body
        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    bound: Counter = Counter()
    targets: dict[str, set] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            bound[node.id] += 1
        elif isinstance(node, ast.arg):
            bound[node.arg] += 1
        elif isinstance(node, ast.ExceptHandler) and node.name:
            bound[node.name] += 1
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bound[node.name] += id(node) not in methods
        elif isinstance(node, ast.Import):
            for a in node.names:
                name = a.name if a.asname else a.name.split(".")[0]
                file = _module_file(root, name, here)
                targets.setdefault(a.asname or name, set()).add((file, None) if file else None)
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(rel, node)
            file = _module_file(root, mod, here)
            for a in node.names:
                sub = _module_file(root, f"{mod}.{a.name}", here)
                hit = (sub, None) if sub else (file, a.name) if file else None
                targets.setdefault(a.asname or a.name, set()).add(hit)
    imports = {
        n: t.pop() for n, t in targets.items() if len(t) == 1 and None not in t and not bound[n]
    }
    constants: dict = {}
    defs: dict = {}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
            target = node.targets[0] if isinstance(node, ast.Assign) else node.target
            pairs = [(target, node.value)]
            if isinstance(target, ast.Tuple) and isinstance(node.value, ast.Tuple):
                pairs = list(zip(target.elts, node.value.elts))
            for t, v in pairs:
                if isinstance(t, ast.Name) and bound[t.id] == 1 and t.id not in targets:
                    try:
                        ast.literal_eval(v)
                    except ValueError:
                        continue
                    constants[t.id] = v
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            if bound[node.name] == 1 and node.name not in targets:
                defs[node.name] = node
    return constants, imports, defs


def _literal(root: str, rel: str, node):
    """The literal node a module constant argument stands for: a bare
    name the file ``rel`` binds once to a literal, a name it imports from
    a repo module that binds it so, or ``alias.NAME`` of an imported repo
    module that binds ``NAME`` so. Any other node comes back as is."""
    import ast

    constants, imports, _ = _scope(root, rel)
    if isinstance(node, ast.Name):
        if node.id in constants:
            return constants[node.id]
        file, attr = imports.get(node.id, (None, None))
        if attr is not None:
            return _scope(root, file)[0].get(attr, node)
    elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        file, attr = imports.get(node.value.id, (None, None))
        if file is not None and attr is None:
            return _scope(root, file)[0].get(node.attr, node)
    return node


def _calls(root: str, rel: str) -> list[tuple]:
    """Every call in the repo file ``rel``: ``(call node, positional
    argument nodes, {keyword: value node})``, each argument resolved by
    :func:`_literal`. The keys of a ``**name`` whose ``name`` (or
    ``self.name``) is assigned a ``dict(...)`` call or a dict literal in
    the same file count as keywords, with that dict's value nodes; any
    other ``**`` passes no keyword."""
    import ast

    def name_of(node) -> str | None:
        return node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)

    with open(os.path.join(root, rel), encoding="utf-8") as f:
        nodes = list(ast.walk(ast.parse(f.read())))
    dicts: dict[str, dict] = {}
    for node in nodes:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            v = node.value
            if isinstance(v, ast.Call) and name_of(v.func) == "dict":
                dicts[name_of(node.targets[0])] = {k.arg: k.value for k in v.keywords}
            elif isinstance(v, ast.Dict):
                dicts[name_of(node.targets[0])] = {
                    k.value: val
                    for k, val in zip(v.keys, v.values)
                    if isinstance(k, ast.Constant)
                }
    out = []
    for node in nodes:
        if isinstance(node, ast.Call):
            keywords: dict = {}
            for k in node.keywords:
                keywords.update({k.arg: k.value} if k.arg else dicts.get(name_of(k.value), {}))
            out.append((
                node,
                [_literal(root, rel, a) for a in node.args],
                {k: _literal(root, rel, v) for k, v in keywords.items()},
            ))
    return out


def _call_sites(root: str, files: list[str]) -> dict[str, list[tuple[list, dict]]]:
    """Every call in ``files`` (see :func:`_calls`), by callee name: the
    called name, or the attribute of a dotted call; a name bound by
    ``from ... import name as alias`` counts under ``name``."""
    import ast

    sites: dict[str, list[tuple[list, dict]]] = {}
    for rel in files:
        imports = _scope(root, rel)[1]
        for node, args, keywords in _calls(root, rel):
            func = node.func
            callee = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            if isinstance(func, ast.Name) and imports.get(callee, (None, None))[1]:
                callee = imports[callee][1]
            sites.setdefault(callee, []).append((args, keywords))
    return sites


def _passed(calls: list[tuple[list, dict]], positional: list[str]) -> set[str]:
    """Parameter names some of ``calls`` (from :func:`_call_sites`) pass:
    the first ``n`` of ``positional`` for ``n`` positional arguments, and
    every keyword."""
    passed: set[str] = set()
    for args, keywords in calls:
        passed.update(positional[: len(args)])
        passed.update(keywords)
    return passed


def test_every_pipeline_option_is_passed_by_a_non_test_root():
    """An option that only tests set selects a code path only tests reach:
    every keyword of ``LinkagePipeline.__init__`` must be passed by the
    benchmark, the entry point, perfbench or a script."""
    import inspect

    from blurrily_spark.plans.pipeline import LinkagePipeline

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    params = list(inspect.signature(LinkagePipeline).parameters)
    options = set(params) - {"spark", "workdir"}
    calls = _call_sites(root, _root_files(root)).get("LinkagePipeline", [])
    assert sorted(options - _passed(calls, params)) == []


def _operator_options(root: str) -> list[tuple[str, str, list[str], list[str], list[str], dict]]:
    """``(module, callee, positional, named, options, defaults)`` of every
    public module-level function and public class ``__init__`` under
    ``blurrily_spark/``: its positional parameters in order (``self``
    left out), every parameter it names, its options -- each parameter
    with a default, each keyword-only parameter and a ``**kwargs`` (as
    ``**name``), without the ``*_col`` parameters -- and the default
    value node of each option that has one (a module constant resolved
    by :func:`_literal`)."""
    import ast

    out = []
    for rel in _package_files(root):
        with open(os.path.join(root, rel), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        module = rel[: -len(".py")].replace(os.sep, ".")
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                fn, skip = node, 0
            elif isinstance(node, ast.ClassDef):
                fn = next(
                    (b for b in node.body if isinstance(b, ast.FunctionDef) and b.name == "__init__"),
                    None,
                )
                skip = 1  # self
            else:
                continue
            if fn is None or node.name.startswith("_"):
                continue
            a = fn.args
            positional = [p.arg for p in a.posonlyargs + a.args][skip:]
            keyword_only = [p.arg for p in a.kwonlyargs]
            options = positional[len(positional) - len(a.defaults) :] if a.defaults else []
            defaults = {o: _literal(root, rel, d) for o, d in zip(options, a.defaults)}
            defaults.update(
                (p.arg, _literal(root, rel, d)) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
            )
            options += keyword_only + ([f"**{a.kwarg.arg}"] if a.kwarg else [])
            options = [o for o in options if not o.endswith("_col")]
            out.append((module, node.name, positional, positional + keyword_only, options, defaults))
    return out


def test_every_operator_option_is_passed_by_a_non_test_root():
    """The package-wide form of the pipeline gate: every option of a
    public function or class under ``blurrily_spark/`` (see
    :func:`_operator_options`) must be passed by some call in a non-test
    root or a package module -- by keyword, by position, or through a
    resolved ``**dict``; a ``**kwargs`` option by a keyword the callee
    does not name. Calls match by callee name, so a name collision can
    only make a dead option look live and the gate never fails falsely.
    ``*_col`` parameters name a column of the caller's table and are
    exempt."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sites = _call_sites(root, _root_files(root) + _package_files(root))
    dead = []
    for module, callee, positional, named, options, _ in _operator_options(root):
        passed = _passed(sites.get(callee, []), positional)
        for option in options:
            live = bool(passed - set(named)) if option.startswith("**") else option in passed
            if not live:
                dead.append(f"{module}:{callee}({option})")
    assert not dead, "options no non-test root or package module passes: " + ", ".join(dead)


# Options that every non-test caller sets to one value but that stay
# options, by ``module:callee(option)``, with the reason.
_PERFBENCH = "perfbench passes it, and only a benchmark change may edit perfbench"
_ORACLE = "reference SQL that tests compare against"
_ONE_VALUE_EXEMPT = {
    "blurrily_spark.server:BlurrilyClient(host)": "a deployment address",
    "blurrily_spark.functions.oracle:find_sql(limit)": _ORACLE,
    "blurrily_spark.functions.oracle:pairs_ctes(alias)": _ORACLE,
    "blurrily_spark.functions.oracle:cc_walk_ctes(edges)": _ORACLE,
    "blurrily_spark.plans.pipeline:LinkagePipeline(jaccard_threshold)": _PERFBENCH,
    "blurrily_spark.plans.pipeline:LinkagePipeline(min_matches)": _PERFBENCH,
    "blurrily_spark.operators.pairs:candidate_pairs(min_matches)": _PERFBENCH,
    **{
        f"blurrily_spark.sources.synth:generate_transcripts({opt})": (
            "the shape perfbench passes to generate_transcripts_pdf, and only"
            " a benchmark change may edit perfbench"
        )
        for opt in ("variants_per_entity", "turns_per_conv", "words_per_turn", "n_perturbations")
    },
}


def _values(node) -> set:
    """The values an argument node (resolved by :func:`_literal`) can
    take: one literal by ``ast.literal_eval``, or two distinct markers for
    anything else, as a name or an expression may take many."""
    import ast

    try:
        return {repr(ast.literal_eval(node))}
    except ValueError:
        return {"<expr>", "<expr'>"}


def test_every_operator_option_takes_two_values():
    """An option every non-test caller sets to one value is a constant:
    each option of a public function or class under ``blurrily_spark/``
    (see :func:`_operator_options`; ``**kwargs`` aside) must take two or
    more values over the calls of the non-test roots and the package
    modules -- each literal a call passes, a module constant bound once
    to a literal as that literal (:func:`_literal`), any other argument as
    many values, and the default when some call leaves the option out.
    ``_ONE_VALUE_EXEMPT`` names the exceptions with their reasons, and
    names only options the gate flags."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sites = _call_sites(root, _root_files(root) + _package_files(root))
    single = []
    for module, callee, positional, _, options, defaults in _operator_options(root):
        for option in options:
            if option.startswith("**"):
                continue
            values: set = set()
            for args, keywords in sites.get(callee, []):
                i = positional.index(option) if option in positional else len(args)
                node = args[i] if i < len(args) else keywords.get(option, defaults.get(option))
                values |= _values(node) if node is not None else set()
            if len(values) < 2:
                single.append(f"{module}:{callee}({option})")
    constant = sorted(set(single) - set(_ONE_VALUE_EXEMPT))
    assert not constant, "options every non-test caller sets to one value: " + ", ".join(constant)
    stale = sorted(set(_ONE_VALUE_EXEMPT) - set(single))
    assert not stale, "exemptions for options that take two values: " + ", ".join(stale)


def _signature(node) -> tuple[list[str], set[str], bool, bool] | None:
    """``(positional, named, takes *args, takes **kwargs)`` of a function
    node, or of a class node's ``__init__`` (``self`` left out; a
    ``@dataclass`` without one takes its annotated fields in order); None
    for a class whose constructor is neither."""
    import ast

    skip = 0
    if isinstance(node, ast.ClassDef):
        init = next(
            (b for b in node.body if isinstance(b, ast.FunctionDef) and b.name == "__init__"),
            None,
        )
        if init is None:
            if not any("dataclass" in ast.unparse(d) for d in node.decorator_list):
                return None
            fields = [b.target.id for b in node.body if isinstance(b, ast.AnnAssign)]
            return fields, set(fields), False, False
        node, skip = init, 1
    a = node.args
    positional = [p.arg for p in a.posonlyargs + a.args][skip:]
    named = {p.arg for p in a.args + a.kwonlyargs} - {p.arg for p in a.posonlyargs}
    return positional, named, a.vararg is not None, a.kwarg is not None


def _callee(root: str, rel: str, func) -> tuple[str, object] | None:
    """``(file, def node)`` of the function or class under
    ``blurrily_spark/`` that a call's ``func`` names in the repo file
    ``rel``: a module-level def of a package file, a name imported from a
    repo module (followed through re-exports such as a package
    ``__init__``), or ``alias.name`` of an imported repo module. None for
    anything else (a method, a local function, a library call)."""
    import ast

    _, imports, defs = _scope(root, rel)
    if isinstance(func, ast.Name):
        file, name = (rel, func.id) if func.id in defs else imports.get(func.id, (None, None))
    elif isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        file, attr = imports.get(func.value.id, (None, None))
        name = func.attr if attr is None else None
    else:
        return None
    for _ in range(8):  # a re-export chain is short; a cycle must end
        if file is None or name is None:
            return None
        _, imports, defs = _scope(root, file)
        if name in defs:
            return (file, defs[name]) if file.startswith("blurrily_spark" + os.sep) else None
        file, name = imports.get(name, (None, None))
    return None


def test_every_package_call_passes_only_parameters_its_callee_takes():
    """A call that passes a keyword its callee no longer takes fails only
    when its code runs: every call in a non-test root or a package module
    that resolves to a function or class under ``blurrily_spark/`` (see
    :func:`_callee`) may pass only keywords the callee names (or a
    ``**kwargs`` takes) and no more positional arguments than it has (or
    a ``*args`` takes). A ``**dict`` counts by the keys
    :func:`_calls` resolves; a ``*list`` is not counted."""
    import ast

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = []
    for rel in _root_files(root) + _package_files(root):
        for node, args, keywords in _calls(root, rel):
            hit = _callee(root, rel, node.func)
            signature = _signature(hit[1]) if hit else None
            if signature is None:
                continue
            positional, named, varargs, varkw = signature
            where = f"{rel}:{node.lineno} {hit[1].name}"
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            if not (varargs or starred) and len(args) > len(positional):
                bad.append(f"{where}: {len(args)} positional arguments, takes {len(positional)}")
            bad += [f"{where}({k}=)" for k in keywords if not varkw and k not in named]
    assert not bad, "calls that pass what the callee does not take: " + ", ".join(bad)


_PYTHON_UDF_NAMES = {"udf", "pandas_udf", "mapInPandas", "mapInArrow", "applyInPandas"}


def test_no_package_module_runs_a_python_udf():
    """A Python UDF runs a Python worker next to every task: its rows cross
    the JVM boundary twice, and each worker costs CPU before it touches a
    row. No module under ``blurrily_spark/`` may call or decorate with
    ``udf``, ``pandas_udf``, ``mapInPandas``, ``mapInArrow`` or
    ``applyInPandas``, by attribute (``F.udf``) or by bare name."""
    import ast

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    found = []
    for rel in _package_files(root):
        with open(os.path.join(root, rel)) as fh:
            tree = ast.parse(fh.read(), rel)
        targets = []
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                targets.append(n.func)
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                targets += n.decorator_list  # a bare ``@F.udf`` is no Call
        for t in targets:
            name = t.attr if isinstance(t, ast.Attribute) else getattr(t, "id", None)
            if name in _PYTHON_UDF_NAMES:
                found.append(f"{rel}:{t.lineno} {name}")
    assert not found, (
        "Python UDFs in the package (a Python UDF comes back only with a"
        " perfbench workload that measures it): " + ", ".join(sorted(found))
    )
