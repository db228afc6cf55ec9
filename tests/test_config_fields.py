"""Every DedupConfig field must be read by package code: an unread field
still changes ``config_hash()`` (invalidating checkpoints for nothing) and
is offered by ``scripts/run_pipeline.py --set`` as if it did something.
Every CandidateModel field must be read too: an unread index array is
memory and build time spent for nothing.  Likewise every defaulted
parameter of a public package function must be passed by some caller
outside the tests."""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

import batch_jaro_winkler_spark
from batch_jaro_winkler_spark.kernel import CandidateModel
from batch_jaro_winkler_spark.operators.config import DedupConfig


def _attribute_loads(skip=()) -> set[str]:
    """Names loaded as attributes (``x.name``) anywhere in the package;
    stores and string mentions do not count."""
    root = Path(batch_jaro_winkler_spark.__file__).parent
    reads: set[str] = set()
    for path in root.rglob("*.py"):
        if path.relative_to(root).as_posix() in skip:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                reads.add(node.attr)
    return reads


def test_every_config_field_is_read():
    reads = _attribute_loads(skip=("operators/config.py",))
    unread = [f.name for f in dataclasses.fields(DedupConfig) if f.name not in reads]
    assert not unread, f"DedupConfig fields no package code reads: {unread}"


def test_every_model_field_is_read():
    reads = _attribute_loads()
    unread = [f.name for f in dataclasses.fields(CandidateModel) if f.name not in reads]
    assert not unread, f"CandidateModel fields no package code reads: {unread}"


# Defaulted parameters that no non-test caller passes, kept on purpose.
# A key names a module, a function or one parameter (dotted, relative to
# the package) and covers everything under it.
_ENCODER = "encoder variants build the inputs the decoder must read"
_KEPT = {
    "api": "the reference-API mirror keeps the reference's option surface",
    "kernel.bjw.score_pair": "float32 reference the kernel tests compare against",
    "kernel.bjw.score_strings": "reference the kernel tests compare against",
    "kernel.oracle": "textbook reference the kernel tests compare against",
    "functions.jpeg.encode_jpeg_baseline": _ENCODER,
    "functions.png.encode_png": _ENCODER,
    "sources.webpages.read_webpages.check_invariant": "opt-in input check",
    "sources.webpages.read_webpages.check_id_collisions": "opt-in input check",
}


def _defaulted(fn: ast.FunctionDef, method: bool) -> list[tuple[int | None, str]]:
    """(positional index or None for keyword-only, name) per defaulted
    parameter; a method's positions skip ``self``."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args][1 if method else 0 :]
    out = [(i, n) for i, n in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    out += [(None, k.arg) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def test_every_option_has_a_non_test_caller():
    """A defaulted parameter of a public package function that no non-test
    caller passes is a constant in disguise: some caller outside the tests
    must pass it, or it is kept on purpose in ``_KEPT``.  Calls are matched
    by name, so a same-named call anywhere counts."""
    root = Path(batch_jaro_winkler_spark.__file__).parent
    repo = root.parent
    params = []  # (dotted name, function name, position, parameter)
    for path in root.rglob("*.py"):
        mod = ".".join(path.relative_to(root).with_suffix("").parts)
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                params += [
                    (f"{mod}.{node.name}.{n}", node.name, i, n)
                    for i, n in _defaulted(node, False)
                ]
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("_"):
                        params += [
                            (f"{mod}.{node.name}.{m.name}.{n}", m.name, i, n)
                            for i, n in _defaulted(m, True)
                        ]
    callers = [
        *root.rglob("*.py"),
        repo / "__spark_entry__.py",
        *repo.glob("bench*.py"),
        *(repo / "scripts").rglob("*.py"),
        *(p for p in (repo / "perfbench").rglob("*.py") if "tests" not in p.parts),
    ]
    passed: dict[str, set] = {}  # call name → positions and keywords passed
    for path in callers:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            got = passed.setdefault(name, set())
            for i, arg in enumerate(node.args):
                got.add("*" if isinstance(arg, ast.Starred) else i)
            got.update(k.arg or "**" for k in node.keywords)
    unpassed = [
        dotted
        for dotted, fn, i, n in params
        if not passed.get(fn, set()) & {n, i, "*", "**"}
    ]

    def kept(dotted: str, key: str) -> bool:
        return f"{dotted}.".startswith(f"{key}.")

    missing = [d for d in unpassed if not any(kept(d, k) for k in _KEPT)]
    assert not missing, f"defaulted parameters no non-test caller passes: {missing}"
    stale = [k for k in _KEPT if not any(kept(d, k) for d in unpassed)]
    assert not stale, f"_KEPT entries whose parameters a caller now passes: {stale}"
