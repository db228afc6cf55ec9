"""Checkpoint catalog: Iceberg-style atomic table checkpoints on parquet.

The pipeline's resumability layer (SURVEY.md §7 step 9).  The sandbox has
no Iceberg runtime jar, so this implements the same contract on plain
parquet + a JSON manifest:

* a stage checkpoint is ``<root>/<name>/data/*.parquet`` plus
  ``<root>/<name>/manifest.json`` holding schema, row count, config hash,
  stage version, wall time (per-partition lineage + metrics) and the
  logical table's part list (``parts``, see :meth:`Catalog.add_part`);
* writes are atomic-by-rename: data and manifest land in a temp dir that
  is renamed into place — a checkpoint without a manifest is invisible,
  so a killed job never exposes partial state — and ``add_part``
  replaces the manifest through a temp file.  Because the part list
  lives in the manifest, a rewrite (``write``, ``compact``) resets it in
  the same rename that swaps the data: a killed compaction can never
  leave the old parts listed beside a base that already holds them.

Replacing a table is three renames-or-deletes: the old table directory
is renamed aside to ``<root>/_old_<name>``, the new one is renamed in,
then the aside copy is deleted.  A kill between any two leaves either
the table (the new version; a leftover aside copy is stale) or only the
aside copy (the old version).  Constructing a :class:`Catalog` settles
both states — it restores an aside copy whose table is missing and
deletes one whose table exists — so a table rewritten by a killed job
(``clusters``, a compacted ``signatures``) reads as exactly its old or
its new version, never missing and never duplicated.  The layout stays
``<name>/data`` + ``<name>/manifest.json``.

On a real deployment the same functions map 1:1 onto Iceberg
``writeTo(...).createOrReplace()`` + snapshot metadata; the pipeline code
is identical under either backend.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["Catalog"]

_MAX_PARTS = 8  # compact() folds a logical table past this many parts
_ASIDE = "_old_"  # prefix of a replaced table's directory during a swap


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        for entry in os.listdir(root):
            if entry.startswith(_ASIDE):
                self._settle(entry[len(_ASIDE):])

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _settle(self, name: str) -> None:
        """Finish or undo a killed table swap: the aside copy is the old
        version, so restore it when the table is missing and delete it
        when the new table is in place."""
        aside = self._dir(_ASIDE + name)
        if not os.path.exists(aside):
            return
        if os.path.exists(self._dir(name)):
            shutil.rmtree(aside)
        else:
            os.rename(aside, self._dir(name))

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.json")

    def manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def exists(self, name: str, config_hash: str | None = None) -> bool:
        m = self.manifest(name)
        if m is None:
            return False
        return config_hash is None or m.get("config_hash") == config_hash

    def read(self, name: str) -> DataFrame:
        """The checkpoint's parquet, read with the manifest's schema — no
        schema-inference job."""
        schema = StructType.fromJson(self.manifest(name)["schema"])
        return self.spark.read.schema(schema).parquet(
            os.path.join(self._dir(name), "data")
        )

    # -------------------------------------------------- multi-part tables
    # Manifest-level append (the Iceberg snapshot story): a logical table
    # = its base checkpoint + the ordered part checkpoints its manifest
    # lists.  An incremental fold registers the increment's table as a part
    # instead of rewriting the base — O(increment) I/O, and the base data
    # files never churn.  A full rewrite (``write``) resets the part list.

    def parts(self, name: str) -> list[str]:
        return (self.manifest(name) or {}).get("parts", [])

    def add_part(self, name: str, part_table: str) -> None:
        """Register ``part_table`` (an existing checkpoint) as a part of the
        logical table ``name``.  Idempotent (set semantics) and atomic (the
        manifest is replaced through a temp file), so a crashed/rerun fold
        never duplicates."""
        m = self.manifest(name)
        if m is None or not self.exists(part_table):
            raise ValueError(f"add_part needs checkpoints of {name} and {part_table}")
        ps = m.setdefault("parts", [])
        if part_table in ps:
            return
        ps.append(part_table)
        tmp = self._manifest_path(name) + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=1)
        os.replace(tmp, self._manifest_path(name))

    def read_union(self, name: str) -> DataFrame:
        """The logical table: base checkpoint unioned with all parts."""
        df = self.read(name)
        for p in self.parts(name):
            df = df.unionByName(self.read(p))
        return df

    def compact(self, name: str) -> bool:
        """Fold part checkpoints into the base when the logical table's
        scan fan-in exceeds ``_MAX_PARTS`` (the Iceberg rewrite_data_files
        story): rewrites base = read_union(name), whose new manifest's
        empty part list supersedes the old parts in the same rename, so
        unbounded daily increments can never degenerate into an unbounded
        union plan.
        Part checkpoints stay on disk — they are independent stage
        checkpoints that incremental runs may still resume from.
        Returns True iff a compaction ran."""
        ps = self.parts(name)
        if len(ps) <= _MAX_PARTS:
            return False
        m = self.manifest(name)
        self.write(
            name,
            self.read_union(name),
            m["config_hash"],
            extra_meta={"compacted_parts": len(ps)},
        )
        return True

    def write(
        self,
        name: str,
        df: DataFrame,
        config_hash: str,
        extra_meta: dict | None = None,
    ) -> dict:
        """Write df as the checkpoint ``name`` (atomic) in one Spark job
        and return its manifest.  Nothing is read back: the schema comes
        from ``df`` and the per-file row counts from the parquet footers."""
        t0 = time.time()
        table_dir = self._dir(name)
        tmp = os.path.join(self.root, f"_tmp_{name}_{uuid.uuid4().hex[:8]}")
        data_dir = os.path.join(tmp, "data")
        # small row groups so read-back splits parallelize: one file with a
        # single giant row group serializes every downstream scan task
        (
            df.write.mode("overwrite")
            .option("parquet.block.size", 8 * 1024 * 1024)
            .parquet(data_dir)
        )
        # per-partition lineage: row count per written file
        files = sorted(
            f for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        part_rows = [
            [i, pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows]
            for i, f in enumerate(files)
        ]
        manifest = {
            "table": name,
            "config_hash": config_hash,
            "stage_version": 1,
            "rows": sum(n for _, n in part_rows),
            "files": len(files),
            "partition_rows": part_rows,
            "schema": df.schema.jsonValue(),
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "parts": [],
            **(extra_meta or {}),
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1)
        # swap: old table aside, new table in, aside copy deleted (settled)
        self._settle(name)
        if os.path.exists(table_dir):
            os.rename(table_dir, self._dir(_ASIDE + name))
        os.rename(tmp, table_dir)
        self._settle(name)
        return manifest
