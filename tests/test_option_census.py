"""Census of the package's settable values: every defaulted parameter is passed.

Each defaulted parameter of a module-level function or class method in
``graphrag_mrkr_2_spark/`` must be passed by at least one call site in the
repo (the package, ``tests/``, ``perfbench/``, ``scripts/``, ``plans/`` and the
root ``*.py``). A default that no caller overrides is a configuration nobody
runs: turn it into the value every caller gets, or add the call that needs it.

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

The only parameters allowed to stay unpassed are the seams where a real model
replaces the mock one. AST only; no Spark. ``python tests/test_option_census.py``
prints the census.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "graphrag_mrkr_2_spark"

SEAMS = {
    ("extract_mentions_fused", "llm"),
    ("extract_mentions", "llm"),
    ("run_reference_pipeline", "llm"),
    ("summarize_documents", "summarizer"),
    ("summarize_descriptions", "summarizer"),
    ("rerank_candidates", "scorer"),
    ("StructuredQueryExecutor.__init__", "sql_corrector"),
    ("StructuredQueryExecutor.__init__", "mention_extractor"),
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


def census():
    """Return (defs, never passed {qualname: [params]}, unresolved spread sites)."""
    defs = _definitions()
    by_name = {}
    for q, (name, _, _) in defs.items():
        by_name.setdefault(name, []).append(q)
    trees = {p.relative_to(ROOT).as_posix(): ast.parse(p.read_text())
             for p in ROOT.rglob("*.py") if ".git" not in p.parts}
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


def test_every_default_is_passed_by_some_caller():
    _, never, _ = census()
    found = {(_short(q), p) for q, ps in never.items() for p in ps}
    assert found == SEAMS, (
        f"never passed, not a seam: {sorted(found - SEAMS)}; "
        f"seams now passed or gone: {sorted(SEAMS - found)}")


def test_census_sees_the_known_callers():
    # The matcher must see positional, keyword and **dict-literal passes;
    # perfbench's ER_ARGS reaches candidate_pairs only through a spread.
    defs, never, _ = census()
    cp = next(q for q in defs if q.endswith("::candidate_pairs"))
    assert defs[cp][2] and cp not in never


if __name__ == "__main__":
    defs, never, spreads = census()
    for s in spreads:
        print(f"unresolved spread, check by hand: {s}")
    for q, ps in never.items():
        print(f"{q}: {', '.join(ps)}")
    n_dflt = sum(len(d) for _, _, d in defs.values())
    print(f"{sum(map(len, never.values()))} never passed; "
          f"{n_dflt} defaulted in {len(defs)} functions and methods")
