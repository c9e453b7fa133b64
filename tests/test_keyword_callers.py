"""Every keyword parameter of a public operator has a caller.

A defaulted parameter that nothing sets is a configuration no test or
benchmark covers.  The scan below reads every public top-level function
of ``operators/``, ``functions/``, ``sources/`` and ``plans/``, then every
call in the package, ``__spark_entry__.py``, ``bench.py``, ``kgbench/``,
``tools/`` and ``tests/`` (tests count as callers).  A call sets a
parameter by naming it or by reaching its position; ``*args``/``**kwargs``
splats set nothing here.  Calls match on the function's bare name: no two
public functions share one.  ``streaming/`` (triggers and watermarks are
deployment settings) and ``api.omop2owl`` (the reference's own keyword
surface, kept for parity) are not scanned.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "omop2owl_vocab_spark"


def _keyword_params(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """``(name, position)`` of each defaulted parameter; keyword-only
    ones have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [
        (p.arg, None)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def public_keyword_params(root: Path) -> dict[str, tuple[str, list]]:
    """function name -> (module path, defaulted parameters)."""
    out = {}
    for sub in ("operators", "functions", "sources", "plans"):
        for f in sorted((root / PKG / sub).glob("*.py")):
            for node in ast.parse(f.read_text()).body:
                if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                    params = _keyword_params(node)
                    if params:
                        assert node.name not in out, node.name
                        out[node.name] = (f"{sub}/{f.name}", params)
    return out


def _caller_files(root: Path) -> list[Path]:
    files = list((root / PKG).rglob("*.py"))
    files += [root / "__spark_entry__.py", root / "bench.py"]
    for d in ("kgbench", "tools", "tests"):
        files += (root / d).rglob("*.py")
    return files


def unset_keyword_params(root: Path) -> list[str]:
    """``module:function(param)`` for every defaulted parameter of a
    public operator that no call under ``root`` sets."""
    defs = public_keyword_params(root)
    named = {name: set() for name in defs}
    reach = dict.fromkeys(defs, 0)
    for f in _caller_files(root):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "attr", None) or getattr(fn, "id", None)
            if name not in defs:
                continue
            named[name].update(k.arg for k in node.keywords if k.arg)
            plain = [a for a in node.args if not isinstance(a, ast.Starred)]
            reach[name] = max(reach[name], len(plain))
    return [
        f"{mod}:{name}({p})"
        for name, (mod, params) in sorted(defs.items())
        for p, i in params
        if p not in named[name] and (i is None or i >= reach[name])
    ]


def test_every_operator_keyword_parameter_has_a_caller():
    unset = unset_keyword_params(ROOT)
    assert not unset, f"{len(unset)} keyword parameters no call sets:\n" + "\n".join(unset)
