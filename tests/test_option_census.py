"""Census of the package: every function has a product caller, every
defaulted parameter is passed by one, and no module keeps an unused import.

Each defaulted parameter of a module-level function or class method in
``graphrag_mrkr_2_spark/`` must be passed by at least one product call site:
the package itself, ``plans/``, ``scripts/``, ``perfbench/`` and the root
``*.py``. Files under ``tests/`` are not callers: a default that only a test
overrides is a configuration the product never runs. Turn it into the value
every caller gets (a module constant, which a test may monkeypatch), or add
the product call that needs it. The only parameters allowed to stay
unpassed are the ``KEPT`` entries, each with its reason.

How a call is matched: by the callee's bare name (``f(...)``, ``obj.f(...)``;
``Cls(...)`` for ``Cls.__init__``), and through a dispatch table (a dict
literal of functions called as ``D[k](...)`` or via ``v = D.get(k)``).
Positional and keyword arguments count. A ``**`` spread of a dict literal
counts its keys (perfbench's ``ER_ARGS``), and a ``*`` spread of a tuple
literal its length; a function that spreads its own ``**kwargs`` passes on
the keywords its callers give it. Any other spread may carry anything: it
counts as passing every parameter it can reach, and ``__main__`` prints it
for a check by hand. A function that forwards its own never-passed
parameter to another passes nothing.

Callers of functions: every module-level function or class of the package
must be referenced by a product file outside its own body; the ones that
are not must be exactly the ``KEPT_FUNCTIONS`` entries, each with its
reason. A reference is the bare name as an identifier, an attribute, an
imported name or a string constant (a name looked up by ``getattr`` or
from a registry). References from inside a definition that no product
code reaches do not count, so the private helpers only such a definition
uses are found too; references from inside a kept entry do count.
Fixture builders and the reference twins tests compare product code
against live in ``tests/``, not in the package.

Imports: no package module keeps a module-level import it never names.

AST only; no Spark. ``python tests/test_option_census.py`` prints the
``KEPT`` and ``KEPT_FUNCTIONS`` lists with reasons, anything unreferenced
or unused, and the counts under both rules of the parameter census (tests
counted as callers, and product callers only).
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "graphrag_mrkr_2_spark"

_SEAM = "model seam: "
_CAPABILITY = "north-star capability no product caller composes yet: "
_CFG = "PipelineConfig: the reference's settings.py values, hashed into the snapshot fingerprint"

KEPT = {
    ("extract_mentions_fused", "llm"): _SEAM + "a real LLM client replaces the mock extraction LLM",
    ("run_reference_pipeline", "llm"): _SEAM + "a real LLM client replaces the mock in the sequential oracle",
    ("classify_documents", "classifier"): _SEAM + "a real document classifier replaces the deterministic one",
    ("expand_query_terms", "llm"): _SEAM + "a real LLM replaces the deterministic query-expansion stand-in",
    ("rerank_candidates", "scorer"): _SEAM + "a cross-encoder replaces the lexical scorer",
    ("token_budget_shards", "snapshot_dir"): "deployment setting: where the shard snapshot is written",
    ("entity_mapping", "vec_col"): _CAPABILITY + "the embedding-cosine scoring leg (SparkER)",
    ("entity_mapping", "cosine_threshold"): _CAPABILITY + "the embedding-cosine scoring leg (SparkER)",
    ("entity_mapping", "tfidf_threshold"): _CAPABILITY + "the TF-IDF cosine scoring leg (SparkER)",
    ("score_pairs", "vec_col"): _CAPABILITY + "the embedding-cosine score of the ER candidates",
    ("SnapshotCatalog.write", "metrics"): _CAPABILITY + "per-snapshot metrics in the catalog",
    ("SnapshotCatalog.write", "partition_by"): _CAPABILITY + "partitioned snapshot tables",
    ("SnapshotCatalog.read", "snapshot"): _CAPABILITY + "time travel to an older snapshot",
    ("SnapshotCatalog.read", "with_current_schema"): _CAPABILITY + "reading an old snapshot under the current schema",
    ("chunk_pages", "cfg"): _CFG,
    ("with_content_filter", "cfg"): _CFG,
    ("run_kg_pipeline", "cfg"): _CFG,
}

_D1 = "a paper table the one-DAG builder (ROADMAP D1) composes; no product caller builds it yet: "

KEPT_FUNCTIONS = {
    "operators.similarity.entity_similarity_edges": _D1 + "S9/J2 entity SIMILAR_TO edges",
    "operators.communities.write_membership": _D1 + "S10 nodes.community_id (G4 writeback)",
}


def _signature(f, method):
    a = f.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    static = any(getattr(d, "id", None) == "staticmethod" for d in f.decorator_list)
    if method and not static:
        pos = pos[1:]
    dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
    dflt += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return pos, dflt


def _definitions():
    """qualname -> (call name, positional params, defaulted params)."""
    defs = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = path.relative_to(ROOT).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[f"{mod}::{node.name}"] = (node.name, *_signature(node, False))
            elif isinstance(node, ast.ClassDef):
                for f in node.body:
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        name = node.name if f.name == "__init__" else f.name
                        defs[f"{mod}::{node.name}.{f.name}"] = (name, *_signature(f, True))
    return defs


def _calls(node, owner=None, prefix=""):
    """Yield (call, qualname of the enclosing top-level function or method)."""
    for c in ast.iter_child_nodes(node):
        if isinstance(c, ast.Call):
            yield c, owner
        if owner is None and isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _calls(c, prefix + c.name, prefix)
        elif owner is None and isinstance(c, ast.ClassDef) and not prefix:
            yield from _calls(c, None, c.name + ".")
        else:
            yield from _calls(c, owner, prefix)


def _arguments(call, pos, dflt, literals, forwarded_kwargs):
    """[(param, argument node or None)] one call passes, and whether it has a
    spread that could not be resolved."""
    args, unresolved = [], False
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            lit = literals.get(getattr(a.value, "id", None))
            if isinstance(lit, ast.Tuple):
                args += [(p, None) for p in pos[i:i + len(lit.elts)]]
            else:  # unknown length: it may reach every later positional
                args += [(p, None) for p in pos[i:]]
                unresolved = True
            break
        if i < len(pos):
            args.append((pos[i], a))
    for k in call.keywords:
        v = k.value
        if k.arg:
            args.append((k.arg, v))
            continue
        lit = literals.get(getattr(v, "id", None) or getattr(v, "attr", None))
        if isinstance(lit, ast.Dict):
            args += [(key.value, None) for key in lit.keys]
        elif getattr(v, "id", None) != forwarded_kwargs:
            # neither a dict literal nor the caller's own **kwargs (counted
            # at the caller's call sites): it may carry any keyword
            args += [(p, None) for p in dflt]
            unresolved = True
    return args, unresolved


def _caller_files(with_tests):
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT)
        if ".git" in rel.parts or (rel.parts[0] == "tests" and not with_tests):
            continue
        yield rel.as_posix(), p


def census(with_tests=False):
    """Return (defs, never passed {qualname: [params]}, unresolved spread
    sites), counting product callers only, or tests as well."""
    defs = _definitions()
    by_name = {}
    for q, (name, _, _) in defs.items():
        by_name.setdefault(name, []).append(q)
    trees = {rel: ast.parse(p.read_text()) for rel, p in _caller_files(with_tests)}
    assigns = [n for tree in trees.values() for n in ast.walk(tree) if isinstance(n, ast.Assign)]
    # Literals bound to a name anywhere: a ** spread of a dict literal passes
    # its keys, a * spread of a tuple literal passes that many positionals.
    literals = {t.id: n.value for n in assigns if isinstance(n.value, (ast.Dict, ast.Tuple))
                for t in n.targets if isinstance(t, ast.Name)}
    # Functions that forward their **kwargs: name -> (own params, callee
    # names, the **kwargs name). Keywords passed to them reach the callees.
    forwards = {}
    for tree in trees.values():
        for f in ast.walk(tree):
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)) and f.args.kwarg:
                kw = f.args.kwarg.arg
                own = {x.arg for x in f.args.posonlyargs + f.args.args + f.args.kwonlyargs}
                for c in ast.walk(f):
                    if isinstance(c, ast.Call) and any(
                            k.arg is None and getattr(k.value, "id", None) == kw
                            for k in c.keywords):
                        callee = getattr(c.func, "id", None) or getattr(c.func, "attr", None)
                        forwards.setdefault(f.name, (own, set(), kw))[1].add(callee)
    passes = []  # (callee qualname, param, caller qualname, bare Name argument)
    spreads = []
    for rel, tree in trees.items():
        # Dispatch tables: a call through D[k](...), or through v after
        # v = D[k] or v = D.get(k), reaches every function a dict literal D
        # of this module names.
        here = [n for n in ast.walk(tree) if isinstance(n, ast.Assign)]
        tables = {t.id: [v.id for v in n.value.values] for n in here
                  if isinstance(n.value, ast.Dict) and n.value.values
                  and all(isinstance(v, ast.Name) for v in n.value.values)
                  for t in n.targets if isinstance(t, ast.Name)}

        def table_of(e):
            if isinstance(e, ast.Call) and getattr(e.func, "attr", None) == "get":
                e = e.func
            if isinstance(e, (ast.Subscript, ast.Attribute)):
                return tables.get(getattr(e.value, "id", None))
            return None

        aliases = {t.id: table_of(n.value) for n in here if table_of(n.value)
                   for t in n.targets if isinstance(t, ast.Name)}
        for call, owner in _calls(tree):
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            caller = f"{rel}::{owner}" if owner else None
            fwd = forwards.get((owner or "").rsplit(".", 1)[-1], (None,) * 3)[2]
            if name in forwards:
                own, callees, _ = forwards[name]
                for q in (q for c in callees for q in by_name.get(c, ())):
                    passes += [(q, k.arg, caller, getattr(k.value, "id", None))
                               for k in call.keywords if k.arg and k.arg not in own]
            callees = aliases.get(name) or table_of(call.func) or [name]
            for q in (q for c in callees for q in by_name.get(c, ())):
                args, unresolved = _arguments(call, *defs[q][1:], literals, fwd)
                if unresolved:
                    spreads.append(f"{rel}:{call.lineno} {name}")
                passes += [(q, p, caller, getattr(a, "id", None)) for p, a in args]
    # Forwarding a caller's own never-passed parameter passes nothing: iterate
    # to a fixpoint.
    unset = {q: set(d) for q, (_, _, d) in defs.items()}
    while True:
        got = {(q, p) for q, p, caller, arg in passes if arg not in unset.get(caller, ())}
        new = {q: {p for p in d if (q, p) not in got} for q, (_, _, d) in defs.items()}
        if new == unset:
            break
        unset = new
    never = {q: [p for p in defs[q][2] if p in unset[q]] for q in defs if unset[q]}
    return defs, never, sorted(set(spreads))


def _short(q):
    return q.split("::", 1)[1]


def _dotted(path):
    """graphrag_mrkr_2_spark/operators/x.py -> operators.x"""
    return ".".join(path.relative_to(PACKAGE).with_suffix("").parts)


def unreferenced():
    """Module-level package functions and classes no product file reaches,
    as sorted ``module.name`` strings."""
    defs = {}  # (file, name) -> module.name
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(path.relative_to(ROOT).as_posix(), node.name)] = \
                    f"{_dotted(path)}.{node.name}"
    refs = {}  # name -> {(file, enclosing top-level definition or None)}
    for rel, path in _caller_files(with_tests=False):
        for top in ast.parse(path.read_text()).body:
            owner = (rel, getattr(top, "name", None))
            for n in ast.walk(top):
                if isinstance(n, ast.Name):
                    name = n.id
                elif isinstance(n, ast.Attribute):
                    name = n.attr
                elif isinstance(n, ast.alias):
                    name = n.name.rsplit(".", 1)[-1]
                elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                    name = n.value
                else:
                    continue
                refs.setdefault(name, set()).add(owner)
    # a reference from inside an unreached definition that is not kept
    # does not count: iterate to a fixpoint
    dead = set()
    while True:
        new = {d for d in defs if not any(
            o != d and (o not in dead or defs.get(o) in KEPT_FUNCTIONS)
            for o in refs.get(d[1], ()))}
        if new == dead:
            return sorted(defs[d] for d in dead)
        dead = new


def unused_imports():
    """``module: name`` for each module-level import a package module never
    names again."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in used:
                        out.append(f"{_dotted(path)}: {bound}")
    return out


def test_every_default_is_passed_by_some_caller():
    _, never, _ = census()
    found = {(_short(q), p) for q, ps in never.items() for p in ps}
    assert found == set(KEPT), (
        f"never passed by a product caller, not KEPT: {sorted(found - set(KEPT))}; "
        f"KEPT but now passed or gone: {sorted(set(KEPT) - found)}")


def test_every_kept_entry_has_a_reason():
    assert all(r.strip() for r in KEPT.values())
    assert len(KEPT_FUNCTIONS) <= 2 and all(r.strip() for r in KEPT_FUNCTIONS.values())


def test_census_sees_the_known_callers():
    # The matcher must see positional, keyword and **dict-literal passes;
    # perfbench's ER_ARGS reaches candidate_pairs only through a spread.
    defs, never, _ = census()
    cp = next(q for q in defs if q.endswith("::candidate_pairs"))
    assert defs[cp][2] and cp not in never


def test_every_function_has_a_product_caller():
    found = set(unreferenced())
    assert found == set(KEPT_FUNCTIONS), (
        f"referenced by no product file, not KEPT_FUNCTIONS (delete them or "
        f"move test-only code to tests/): {sorted(found - set(KEPT_FUNCTIONS))}; "
        f"KEPT_FUNCTIONS but now referenced or gone: {sorted(set(KEPT_FUNCTIONS) - found)}")


def test_no_unused_module_imports():
    found = unused_imports()
    assert not found, f"module-level imports never used: {found}"


if __name__ == "__main__":
    defs, never, spreads = census()
    for s in spreads:
        print(f"unresolved spread, check by hand: {s}")
    print("KEPT_FUNCTIONS (referenced by no product file, on purpose):")
    for q, reason in sorted(KEPT_FUNCTIONS.items()):
        print(f"  {q}: {reason}")
    for q in unreferenced():
        if q not in KEPT_FUNCTIONS:
            print(f"NOT KEPT, referenced by no product file: {q}")
    for q in unused_imports():
        print(f"unused module-level import: {q}")
    print("KEPT (never passed by a product caller, on purpose):")
    for (q, p), reason in sorted(KEPT.items()):
        print(f"  {q}({p}): {reason}")
    for q, ps in never.items():
        for p in ps:
            if (_short(q), p) not in KEPT:
                print(f"NOT KEPT, never passed by a product caller: {q}: {p}")
    n_dflt = sum(len(d) for _, _, d in defs.values())
    n_never = sum(map(len, never.values()))
    n_never_tests = sum(map(len, census(with_tests=True)[1].values()))
    print(f"{n_dflt} defaulted parameters in {len(defs)} functions and methods; "
          f"never passed: {n_never} counting product callers only, "
          f"{n_never_tests} counting tests as callers too")
