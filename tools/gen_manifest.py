"""Regenerate tools/source_manifest.json — per-key closure+oracle hashes.

The manifest backs the green-set staleness guard
(tests/test_entry.py::test_green_keys_source_unchanged): a key with an
official green CORRECTNESS row must not have its registered source (or
oracle SQL) silently rewritten — the old green verdict would then describe
code that no longer exists while the capped sweep skips the key as
"verified" (the failure mode `sample_hash` hit in round 4 and had to be
hand-patched via _CHANGED_IN_ROUND).

Round 6 (r5 VERDICT "Next round" #3): the hash covers the TRANSITIVE
HELPER CLOSURE, not just the registered function's own source. A semantic
edit to a shared helper (`cc_survivor_ids`, `minhash_signatures`,
`load_table`, `normalize_event_ts`, a module-level constant like
`MINHASH_PREFILTER`) previously left every dependent driver-green key
"verified" while its behavior changed — the same silent-stale-green hole,
one level down. Now any same-package function/class/module/constant a key
transitively references contributes to its hash.

Run this after ANY edit to a registered function OR a package helper, once
local oracle parity is green; for output-CHANGING rewrites ALSO add the
affected keys to __spark_entry__._CHANGED_IN_ROUND so the driver
re-verifies them.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
import types

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

MANIFEST = os.path.join(_REPO, "tools", "source_manifest.json")

_PKG = "data_transform_spark"

# Module-level MUTABLE state reachable from closures (via the register
# decorator's own code) that must never join a key's hash: populated at
# import time in import order, so its repr is process-dependent.
_MUTABLE_STATE = {
    f"{_PKG}.registry.QUERIES",
    f"{_PKG}.registry.ORACLES",
    # the tracked share frames — empty at import, holds DataFrames after a
    # build, so its repr is run-state-dependent (stable "[]" before the
    # first call, unstable after) and must never join the key's hash
    f"{_PKG}.shares._HELD",
    f"{_PKG}.shares._builds",  # run state, like _HELD
    f"{_PKG}.io._SCHEMAS",  # footer schemas cached by earlier reads
}

# Constant leaves whose repr is deterministic across processes. Containers
# qualify only when every leaf does (a dict of FUNCTIONS like
# registry.QUERIES reprs with 0x addresses — per-process noise, skipped);
# sets/frozensets have no stable order and are skipped likewise.
_CONST_LEAVES = (int, float, complex, str, bool, bytes, type(None))


def _stable_repr(value, depth: int = 0) -> str | None:
    """repr(value) iff it is process-stable, else None (skip the constant)."""
    if depth > 4:
        return None
    if isinstance(value, _CONST_LEAVES):
        return repr(value)
    if isinstance(value, (tuple, list)):
        parts = [_stable_repr(v, depth + 1) for v in value]
        if any(p is None for p in parts):
            return None
        open_, close = ("(", ")") if isinstance(value, tuple) else ("[", "]")
        return f"{open_}{', '.join(parts)}{close}"
    if isinstance(value, dict):
        parts = [
            (_stable_repr(k, depth + 1), _stable_repr(v, depth + 1))
            for k, v in value.items()
        ]
        if any(k is None or v is None for k, v in parts):
            return None
        return "{" + ", ".join(f"{k}: {v}" for k, v in parts) + "}"
    return None


def _code_names(code: types.CodeType) -> set[str]:
    """All global names referenced by a code object, including the bodies of
    nested functions/lambdas/comprehensions (they live in co_consts)."""
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def closure_sources(fn) -> dict[str, str]:
    """{qualified name: source-or-repr} for ``fn`` plus every same-package
    function/class/module/constant it transitively references.

    Resolution is by bare global name through each function's __globals__ —
    exactly how the reference will be looked up at run time — so an edit to
    any reachable helper (or to a module-level constant's VALUE) changes the
    closure and therefore the manifest hash of every dependent key. A
    ``QUERIES`` entry is unwrapped from its registry dispatch wrapper to
    the key body.
    """
    items: dict[str, str] = {}
    _walk(inspect.unwrap(fn), items)
    return items


def _walk(obj, items: dict[str, str]) -> None:
    key = f"{getattr(obj, '__module__', '')}.{getattr(obj, '__qualname__', '')}"
    if key in items:
        return
    try:
        items[key] = inspect.getsource(obj)
    except (OSError, TypeError):
        items[key] = repr(obj)
        return

    if isinstance(obj, type):
        for v in vars(obj).values():
            if isinstance(v, (types.FunctionType, staticmethod, classmethod)):
                fn = getattr(v, "__func__", v)
                if getattr(fn, "__module__", "").startswith(_PKG):
                    _walk(fn, items)
        return

    code = getattr(obj, "__code__", None)
    g = getattr(obj, "__globals__", None)
    if code is None or g is None:
        return
    owner = g.get("__name__", "")
    for name in sorted(_code_names(code)):
        if name.startswith("__") and name.endswith("__"):
            continue  # dunders (__name__, __file__) — not behavior
        if f"{owner}.{name}" in _MUTABLE_STATE:
            # registry state, not key behavior: content/order depends on
            # module import order (pytest imports differ from the driver's),
            # which made these keys' hashes flip between processes
            continue
        ref = g.get(name)
        if ref is None:
            continue
        mod = getattr(ref, "__module__", None) or ""
        if isinstance(ref, types.FunctionType) and mod.startswith(_PKG):
            _walk(ref, items)
        elif isinstance(ref, type) and mod.startswith(_PKG):
            _walk(ref, items)
        elif isinstance(ref, types.ModuleType) and ref.__name__.startswith(_PKG):
            # whole-module reference (rare): coarse-hash the module source
            try:
                items.setdefault(ref.__name__, inspect.getsource(ref))
            except (OSError, TypeError):
                pass
        elif owner.startswith(_PKG):
            # module-level constant reached by bare name from a package
            # module — its VALUE is part of the key's behavior (only if
            # its repr is process-stable; address-bearing reprs are noise).
            # A path inside the checkout (operators.scans.SCRATCH) is hashed
            # relative to the checkout root, so the hash does not depend on
            # where the repository lives.
            rep = _stable_repr(ref)
            if rep is not None:
                rep = rep.replace(_REPO, "<repo>")
                items.setdefault(f"{owner}.{name}", f"{name}={rep}")


def key_hash(fn, oracle: str | None) -> str:
    items = closure_sources(fn)
    h = hashlib.sha256()
    for name in sorted(items):
        h.update(name.encode())
        h.update(b"\x01")
        h.update(items[name].encode())
        h.update(b"\x02")
    h.update(b"\x00")
    h.update((oracle or "").encode())
    return h.hexdigest()[:16]


def build() -> dict[str, str]:
    import __spark_entry__  # noqa: F401 — populates registry

    from data_transform_spark.registry import ORACLES, QUERIES

    return {k: key_hash(QUERIES[k], ORACLES.get(k)) for k in sorted(QUERIES)}


if __name__ == "__main__":
    manifest = build()
    with open(MANIFEST, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {MANIFEST}: {len(manifest)} keys")
