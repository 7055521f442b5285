"""Resumable stage runner with per-partition lineage + metrics
(BASELINE.json north_rule).

Each named stage materializes to `<root>/<stage>` with one record,
`<root>/<stage>.manifest.json`; a rerun whose fingerprint matches skips
straight to the output, so any stage is a resume point. The record is
the stage's lineage and metrics: `stage`, `run_id`, `fingerprint`
(effective), `logical` (the caller's string), `inputs` (paths read),
`output` (digest of the written files), `schema` (of the written
DataFrame), `wall_s`, `rows_total` and `partition_rows`
([partition_id, rows] pairs). Metrics are per write task: the id is the
task number in each part file's name (`part-NNNNN-`) and the rows come
from the parquet footers, so no Spark job re-reads the output. The
output is read back with the recorded schema, so a resume runs no Spark
job at all. A rerun replaces the record together with the output.

Stale inputs (VERDICT r5 #4): `inputs=` appends a digest of every input
file's (relpath, size, mtime_ns), stat calls only, so an upstream parquet
mutated in place re-runs the stage as `stale_rerun`, not `resumed`.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from collections import Counter
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import local_frame


def _walk(root: str) -> Iterator[tuple[str, os.stat_result]]:
    """(relpath, stat) of every file under root, hidden files (leading
    '.') skipped — Spark's .crc shadows would double every entry."""
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.startswith("."):
                fp = os.path.join(dirpath, fname)
                yield os.path.relpath(fp, root), os.stat(fp)


def _digest(entries: list) -> str:
    blob = json.dumps(sorted(entries), separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def input_fingerprint(*paths: str) -> str:
    """Digest of the physical state of input files/dirs: (relpath, size,
    mtime_ns) triples, metadata-only. A missing path fingerprints as
    (path, -1, -1) instead of raising, so its stage re-runs (and fails
    inside fn() with the real error) rather than resuming on nothing."""
    entries = []
    for p in map(str, paths):
        if os.path.isdir(p):
            entries += [(rel, st.st_size, st.st_mtime_ns) for rel, st in _walk(p)]
        elif os.path.exists(p):
            st = os.stat(p)
            entries.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
        else:
            entries.append((p, -1, -1))
    return _digest(entries)


def _output_digest(files) -> str:
    """(relpath, size) digest: a copied warehouse still resumes, a part
    file lost or truncated under a surviving _SUCCESS does not."""
    return _digest([(rel, st.st_size) for rel, st in files])


def _read_manifest(path: str) -> dict | None:
    """The record, or None when a torn or empty write left it unparseable."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except ValueError:
        return None


@dataclass
class StageRunner:
    spark: SparkSession
    root: str
    run_id: str = "default"
    _ran: list = field(default_factory=list)

    def stage(
        self,
        name: str,
        fingerprint: str,
        fn: Callable[[], DataFrame],
        inputs: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) a named stage.

        fingerprint should capture everything that determines the output
        (parameters + logical input identity); a matching manifest means
        the materialized parquet is current and the stage is skipped.

        inputs: paths (files or parquet dirs) the stage reads, recorded as
        its lineage; their input_fingerprint() joins the effective
        fingerprint, so an upstream output mutated in place re-runs the
        stage as `stale_rerun`.
        """
        eff = fingerprint
        if inputs:
            eff = f"{fingerprint}|inputs={input_fingerprint(*inputs)}"
        out_path = os.path.join(self.root, name)
        manifest_path = out_path + ".manifest.json"
        # a new logical fingerprint is a plain `ran`, a moved inputs digest
        # `stale_rerun`; a full match that cannot resume, or a record that
        # cannot be parsed, is warehouse damage: `damaged_rerun`
        status = "ran"
        if os.path.exists(manifest_path):
            manifest = _read_manifest(manifest_path)
            if manifest is None:
                status = "damaged_rerun"
            elif manifest.get("fingerprint") == eff:
                # a record without an output digest or a schema cannot
                # vouch for the files, so it re-runs
                digest = _output_digest(_walk(out_path))
                intact = "schema" in manifest and manifest.get("output") == digest
                if intact and os.path.exists(os.path.join(out_path, "_SUCCESS")):
                    self._ran.append((name, "resumed"))
                    return self._read(out_path, manifest["schema"])
                status = "damaged_rerun"
            elif manifest.get("logical") == fingerprint:
                status = "stale_rerun"

        t0 = time.time()
        df = fn()
        df.write.mode("overwrite").parquet(out_path)
        wall_s = time.time() - t0

        files = list(_walk(out_path))
        rows = Counter()  # unpartitioned write: part files are top-level
        for rel, _st in files:
            if rel.startswith("part-"):
                footer = pq.read_metadata(os.path.join(out_path, rel))
                rows[int(rel.split("-")[1])] += footer.num_rows
        record = {
            "fingerprint": eff,
            "logical": fingerprint,
            "output": _output_digest(files),
            "schema": df.schema.jsonValue(),
            "wall_s": wall_s,
            "stage": name,
            "run_id": self.run_id,
            "inputs": [str(p) for p in inputs or []],
            "rows_total": sum(rows.values()),
            "partition_rows": sorted(rows.items()),
        }
        # write-then-rename: a crash leaves the old record or the new one
        tmp = os.path.join(self.root, f".{name}.manifest.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(record, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, manifest_path)
        self._ran.append((name, status))
        return self._read(out_path, record["schema"])

    def _read(self, path: str, schema: dict) -> DataFrame:
        """The stage output under the schema its record holds: a read
        with no inference job. A file source reads every field
        nullable, as an inferring read would."""
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(path)

    def history(self):
        return list(self._ran)

    def _records(self) -> list[dict]:
        paths = sorted(glob.glob(os.path.join(self.root, "*.manifest.json")))
        return [m for m in map(_read_manifest, paths) if m is not None]

    def metrics(self) -> DataFrame:
        """One row per write task of every recorded stage (local, no job)."""
        return local_frame(
            self.spark,
            [
                (m["stage"], m.get("run_id"), m["fingerprint"], m["wall_s"], p, n)
                for m in self._records()
                for p, n in m.get("partition_rows", [])
            ],
            "stage string, run_id string, fingerprint string, wall_s double,"
            " partition_id int, rows_out long",
        )

    def lineage(self) -> DataFrame:
        """One row per recorded stage (local, no job)."""
        keys = ("stage", "run_id", "fingerprint", "inputs", "wall_s", "rows_total")
        return local_frame(
            self.spark,
            [tuple(m.get(k) for k in keys) for m in self._records()],
            "stage string, run_id string, fingerprint string,"
            " inputs array<string>, wall_s double, rows_total long",
        )
