"""Source fingerprints for every registered query: the mechanical
stale-by-code detector.

A query's fingerprint is a SHA-256 over the concatenated sources of:

- the query function itself (``inspect.getsource`` includes the
  ``@query(...)`` decorator text, so the oracle SQL and tags are
  covered for free), and
- transitively, every function / class defined inside the
  ``mk_kafka_connect_spark`` package that the query's code references
  by name, resolved through the module globals, closure cells and
  function-local imports, following one ``Attribute`` hop for module
  aliases (``SW.run_to_memory``) and class methods. A query whose body
  is untouched still drifts when a shared helper changes.

``QUERY_FINGERPRINTS.json`` at the repo root is the ledger: for each
query, the fingerprint its newest certified code had, plus the evidence
round. ``drifted()`` lists the queries whose HEAD fingerprint differs
from the ledger (or that were never ledgered);
``registry.certification_order()`` puts those first. The ledger is
maintained with ``tools/fingerprints.py``.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import os
import re
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LEDGER = os.path.join(REPO, "QUERY_FINGERPRINTS.json")
PACKAGE = "mk_kafka_connect_spark"


def _source(obj) -> str | None:
    try:
        return textwrap.dedent(inspect.getsource(obj))
    except (OSError, TypeError):
        return None


def _in_package(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return bool(mod) and (mod == PACKAGE or mod.startswith(PACKAGE + "."))


def _referenced_names(tree: ast.AST) -> list[tuple[str, str | None]]:
    """(name, attr) pairs referenced in ``tree``.

    ``(name, None)`` for bare ``Name`` loads; ``(base, attr)`` for
    single-hop ``base.attr`` attribute loads (module aliases like
    ``SW.run_to_memory`` and class attributes).
    """
    pairs: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            pairs.append((node.id, None))
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            pairs.append((node.value.id, node.attr))
    return pairs


def _import_module(name: str):
    """Resolve a module by name; import only in-package modules.

    Everything under ``mk_kafka_connect_spark`` is already importable
    (and normally already imported via ``mk_kafka_connect_spark.plans``); anything
    else is looked up in ``sys.modules`` only, because out-of-package
    objects are filtered by ``_in_package`` anyway.
    """
    mod = sys.modules.get(name)
    if mod is None and (name == PACKAGE or name.startswith(PACKAGE + ".")):
        try:
            mod = importlib.import_module(name)
        except Exception:
            return None
    return mod


def _local_import_namespace(obj, tree: ast.AST) -> dict[str, object]:
    """name -> object for imports INSIDE ``obj``'s source (ADVICE r18).

    Queries frequently do ``from ..operators.x import helper`` inside
    the function body; those bindings are invisible to module globals
    and closure cells, so the round-18 tracer silently skipped them
    (``multimodal_ahash_neardup`` et al. kept green fingerprints while
    their operators changed). Walk Import/ImportFrom nodes and resolve
    them the way the interpreter would, relative to the function's own
    module, so locally imported helpers join the closure.
    """
    ns: dict[str, object] = {}
    mod_name = getattr(obj, "__module__", "") or ""
    mod = sys.modules.get(mod_name)
    pkg = getattr(mod, "__package__", None) or mod_name.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname:
                    target = _import_module(alias.name)
                    if target is not None:
                        ns[alias.asname] = target
                else:
                    top = alias.name.split(".")[0]
                    _import_module(alias.name)  # ensure submodule attrs exist
                    target = _import_module(top)
                    if target is not None:
                        ns[top] = target
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                rel = "." * node.level + (node.module or "")
                try:
                    resolved = importlib.util.resolve_name(rel, pkg)
                except (ImportError, ValueError):
                    continue
            else:
                resolved = node.module or ""
            from_mod = _import_module(resolved)
            if from_mod is None:
                continue
            for alias in node.names:
                target = getattr(from_mod, alias.name, None)
                if target is None:
                    target = _import_module(f"{resolved}.{alias.name}")
                if target is not None:
                    ns[alias.asname or alias.name] = target
    return ns


def _closure_sources(fn) -> dict[str, str]:
    """name -> source for fn plus its in-package reference closure.

    Names resolve through the function's module globals, its closure
    cells (``co_freevars``) — registry queries are typically defined
    inside ``_register_*`` wrapper functions, so helpers they call
    (round 17's first miss: ``cosine_topk_bruteforce`` inside
    ``sim_knn_loo_eval``) arrive as cell references, not globals — and
    imports written INSIDE the function body (round 18's miss:
    ``from ..operators.multimodal import ahash_near_dups`` in the query
    body left the operator outside the fingerprint)."""
    sources: dict[str, str] = {}
    seen: set[int] = set()
    # (qualifier, object) worklist; qualifier is a stable display name.
    stack: list[tuple[str, object]] = [(fn.__qualname__, fn)]
    while stack:
        qual, obj = stack.pop()
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        src = _source(obj)
        if src is None:
            continue
        key = f"{getattr(obj, '__module__', '?')}.{qual}"
        sources[key] = src
        try:
            tree: ast.AST | None = ast.parse(src)
        except SyntaxError:
            tree = None
        if tree is None:
            continue
        glb = dict(getattr(obj, "__globals__", None) or {})
        if not glb:  # a class: resolve names through its module
            mod = sys.modules.get(getattr(obj, "__module__", ""), None)
            glb = dict(getattr(mod, "__dict__", {}))
        cells = getattr(obj, "__closure__", None)
        if cells:
            for cname, cell in zip(obj.__code__.co_freevars, cells):
                try:
                    glb[cname] = cell.cell_contents
                except ValueError:  # empty cell
                    continue
        # Function-local imports shadow globals inside the body.
        glb.update(_local_import_namespace(obj, tree))
        for name, attr in _referenced_names(tree):
            target = glb.get(name)
            if target is None:
                continue
            if attr is not None:
                target = getattr(target, attr, None)
                if target is None:
                    continue
            # unwrap plain module aliases only via the attr hop above
            if inspect.isfunction(target) or inspect.isclass(target):
                if _in_package(target):
                    stack.append((getattr(target, "__qualname__", name), target))
    return sources


# Dynamic registry composition: queries like the recall/ndcg reports
# call other queries via QUERIES["name"].fn and interpolate their
# .oracle into an f-string at registration time — neither edge is
# visible to static name resolution, so a component change would leave
# the composed query's fingerprint unmoved. Chase the string literals.
# The alias set is checked by tests/test_stale_by_code.py against the
# package source (round 19: the `_QQ` body-local alias was invisible,
# leaving docs_neardup_overlap_matrix/docs_decontamination_report/
# sim_hybrid_rrf unmoved while their components changed).
_REGISTRY_REF = re.compile(r"(?:_QQ|_Q|QUERIES)\[\s*['\"]([A-Za-z0-9_]+)['\"]\s*\]")


def _fingerprint_inputs(name, spec, registry, stack=()) -> list[str]:
    if name in stack:  # cycle guard (mutual composition)
        return [f"### cycle:{name}"]
    parts = _closure_sources(spec.fn)
    blob = [f"### {k}\n{parts[k]}" for k in sorted(parts)]
    # the RESOLVED oracle (composed oracles embed component SQL) + tags
    blob.append(f"### oracle:{name}\n{spec.oracle or ''}")
    blob.append(f"### tags:{name}\n{tuple(spec.tags or ())!r}")
    refs = sorted(
        {m for src in parts.values() for m in _REGISTRY_REF.findall(src)}
    )
    for ref in refs:
        if ref in registry and ref != name:
            blob.extend(
                _fingerprint_inputs(ref, registry[ref], registry, stack + (name,))
            )
    return blob


def query_fingerprint(name, spec, registry) -> str:
    blob = "\n".join(_fingerprint_inputs(name, spec, registry))
    return hashlib.sha256(blob.encode()).hexdigest()


def head_fingerprints() -> dict[str, str]:
    import mk_kafka_connect_spark.plans  # noqa: F401  (registers every query)
    from mk_kafka_connect_spark.plans.registry import QUERIES

    return {
        name: query_fingerprint(name, spec, QUERIES)
        for name, spec in QUERIES.items()
    }


def load_ledger() -> dict:
    if not os.path.exists(LEDGER):
        return {}
    with open(LEDGER) as f:
        return json.load(f)


def drifted(ledger: dict | None = None) -> dict[str, dict]:
    """Queries whose HEAD fingerprint differs from the ledgered one."""
    ledger = load_ledger() if ledger is None else ledger
    head = head_fingerprints()
    out: dict[str, dict] = {}
    for name, fp in head.items():
        row = ledger.get(name)
        if row is None:
            out[name] = {"reason": "never-ledgered", "head": fp}
        elif row["fingerprint"] != fp:
            out[name] = {
                "reason": "drifted",
                "head": fp,
                "ledgered": row["fingerprint"],
                "evidence_round": row.get("evidence_round"),
            }
    return out
