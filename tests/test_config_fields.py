"""Every DedupConfig field must be read by package code: an unread field
still changes ``config_hash()`` (invalidating checkpoints for nothing) and
is offered by ``scripts/run_pipeline.py --set`` as if it did something."""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

import batch_jaro_winkler_spark
from batch_jaro_winkler_spark.operators.config import DedupConfig


def test_every_config_field_is_read():
    root = Path(batch_jaro_winkler_spark.__file__).parent
    reads: set[str] = set()
    for path in root.rglob("*.py"):
        if path == root / "operators" / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                reads.add(node.attr)
    unread = [f.name for f in dataclasses.fields(DedupConfig) if f.name not in reads]
    assert not unread, f"DedupConfig fields no package code reads: {unread}"
