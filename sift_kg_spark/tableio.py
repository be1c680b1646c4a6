"""Stage-snapshot table store: checkpoint/resume + per-partition lineage
and metrics.

The reference resumes work through per-document JSON caches keyed on the
extraction config (/root/reference/src/sift_kg/extract/extractor.py:35-51
``_check_stale``) and additive review files. The Spark-scale analog is a
snapshot per pipeline STAGE: each stage's output is committed as
Parquet + a JSON manifest, and a resumed run skips every stage whose
manifest is already committed — reading the committed table instead.

The layout is deliberately Iceberg-shaped (data files + a small metadata
document committed last, atomically via rename): this sandbox has no
Iceberg runtime jars (SURVEY.md §7), so ``StageStore`` is the
format-neutral seam — swapping ``df.write.parquet`` for
``df.writeTo(...).createOrReplace()`` against a real Iceberg catalog is a
config-level change, and nothing upstream moves.

Per-partition metrics (north-rule requirement): after each commit the row
count of every written file is read from its Parquet footer and appended to
``_metrics``; stage wall time, row counts, and input lineage go to
``_lineage``. A commit runs one Spark job: the write.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Schemas of the per-partition metrics and lineage logs, as ``write``
# lays them down (pandas int64 -> bigint, float64 -> double).
_METRICS_SCHEMA = "partition_id bigint, rows bigint, run_id string, stage string"
_LINEAGE_SCHEMA = (
    "run_id string, stage string, inputs array<string>, rows bigint, "
    "elapsed_sec double, committed_at string"
)


@dataclass
class StageStore:
    spark: SparkSession
    workdir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    # Pipeline-config fingerprint: a committed snapshot is only reusable if
    # it was produced under the same config (a changed shingle/threshold
    # config silently reusing old snapshots would be a correctness bug).
    context: dict | None = None

    # -- paths -----------------------------------------------------------
    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.workdir, "_manifests")

    def _data_path(self, name: str) -> str:
        return os.path.join(self.workdir, f"{name}.parquet")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._manifest_dir, f"{name}.json")

    # -- snapshot protocol -------------------------------------------------
    def _fingerprint_of(self, manifest: dict) -> str:
        """Identity of a committed stage: run + rows + schema. Any rebuild
        of the stage changes run_id, so downstream stages that recorded
        this fingerprint are invalidated too (lineage-chain validation).
        Stable digest — Python's built-in hash() is salted per process."""
        schema_digest = hashlib.sha1(
            (manifest.get("schema") or "").encode()
        ).hexdigest()[:12]
        return f"{manifest.get('run_id')}:{manifest.get('rows')}:{schema_digest}"

    def _load_manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None

    def exists(self, name: str) -> bool:
        committed = self._load_manifest(name)
        if committed is None:
            return False
        if self.context is not None and committed.get("context") != self.context:
            return False
        # Input-chain validation: a snapshot is reusable only if every
        # input stage it was built from is still the SAME committed
        # snapshot (same run/rows/schema). Without this, re-running with
        # changed upstream data in one workdir would silently serve stale
        # results. External inputs (no manifest, e.g. the raw pages scan)
        # are recorded as null and not validated — callers version those
        # through ``context``.
        recorded = committed.get("input_fingerprints", {})
        for inp, fp in recorded.items():
            cur = self._load_manifest(inp)
            if fp is not None and (
                cur is None or self._fingerprint_of(cur) != fp
            ):
                return False
        return True

    def has_table(self, name: str) -> bool:
        """``name``'s data directory is on disk. Unlike :meth:`exists` this
        asks for no manifest: legacy snapshots carry none."""
        return os.path.exists(self._data_path(name))

    def read(self, name: str) -> DataFrame:
        """The committed table, read with the schema its manifest records
        (the one ``write`` returned): that skips the job Spark runs to
        infer a schema from the Parquet footers. A table without a
        manifest is read by inference."""
        reader = self.spark.read
        committed = self._load_manifest(name)
        if committed is not None and committed.get("schema"):
            reader = reader.schema(
                T.StructType.fromJson(json.loads(committed["schema"]))
            )
        return reader.parquet(self._data_path(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        inputs: tuple[str, ...] = (),
        repartition_by: str | None = None,
    ) -> DataFrame:
        """Commit a stage table; returns the committed table (fresh scan,
        which also truncates the logical plan the way a checkpoint does).

        Crash-safe ordering: the stage's manifest is REMOVED before the
        data directory is touched, so a crash mid-write can never leave
        fresh data readable under a stale manifest — a manifest on disk
        always describes fully-committed data (it is written last,
        atomically via rename).
        """
        t0 = time.monotonic()
        path = self._data_path(name)
        os.makedirs(self._manifest_dir, exist_ok=True)
        try:
            os.remove(self._manifest_path(name))
        except FileNotFoundError:
            pass
        writer = df
        if repartition_by:
            writer = df.repartition(F.col(repartition_by))
        writer.write.mode("overwrite").parquet(path)
        # The written schema is known: reading it back with it skips the
        # footer-inference job. Spark reads a file source's given schema as
        # nullable, as Parquet stores it, so the manifest schema (and every
        # fingerprint of workdirs committed with an inferred read-back)
        # stays byte-equal.
        committed = self.spark.read.schema(df.schema).parquet(path)

        # Per-partition metrics from the parquet FOOTERS (one written file
        # per partition): O(partitions) driver-side footer reads, zero
        # extra Spark jobs — the previous groupBy(spark_partition_id)
        # re-scanned every committed table once per stage. At cluster
        # scale this would be a writeTo(...).append() to an Iceberg
        # metrics table — same data, same shape.
        import pandas as pd
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        part_metrics = pd.DataFrame(
            {
                "partition_id": pd.array(range(len(files)), dtype="int64"),
                "rows": pd.array(
                    [pq.ParquetFile(f).metadata.num_rows for f in files],
                    dtype="int64",
                ),
            }
        )
        part_metrics["run_id"] = self.run_id
        part_metrics["stage"] = name
        metrics_dir = os.path.join(self.workdir, "_metrics.parquet")
        os.makedirs(metrics_dir, exist_ok=True)
        part_metrics.to_parquet(
            os.path.join(metrics_dir, f"part-{self.run_id}-{name}.parquet"),
            index=False,
        )
        n_rows = int(part_metrics["rows"].sum())
        elapsed = time.monotonic() - t0

        input_fingerprints = {}
        for inp in inputs:
            m = self._load_manifest(inp)
            input_fingerprints[inp] = (
                self._fingerprint_of(m) if m is not None else None
            )
        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "context": self.context,
            "rows": n_rows,
            "schema": committed.schema.json(),
            "inputs": list(inputs),
            "input_fingerprints": input_fingerprints,
            "elapsed_sec": round(elapsed, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = self._manifest_path(name) + f".tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, self._manifest_path(name))  # atomic commit

        lineage_dir = os.path.join(self.workdir, "_lineage.parquet")
        os.makedirs(lineage_dir, exist_ok=True)
        pd.DataFrame(
            [
                {
                    "run_id": self.run_id,
                    "stage": name,
                    "inputs": list(inputs),
                    "rows": n_rows,
                    "elapsed_sec": float(round(elapsed, 3)),
                    "committed_at": manifest["committed_at"],
                }
            ]
        ).to_parquet(
            os.path.join(lineage_dir, f"part-{self.run_id}-{name}.parquet"),
            index=False,
        )
        return committed

    def stage(
        self,
        name: str,
        build,
        inputs: tuple[str, ...] = (),
        resume: bool = True,
        repartition_by: str | None = None,
    ) -> DataFrame:
        """Resume-aware stage runner: read the committed snapshot if present,
        else build + commit. ``build`` is a zero-arg callable -> DataFrame."""
        if resume and self.exists(name):
            return self.read(name)
        return self.write(name, build(), inputs=inputs, repartition_by=repartition_by)

    # -- introspection ----------------------------------------------------
    def _read_log(self, name: str, schema: str) -> DataFrame:
        """A ``_``-prefixed log table, read from its part files with the
        schema ``write`` gives it. Spark treats the directory itself as
        hidden (it warns, then lists it anyway) and infers a schema with
        one job; the named files under a fixed schema take none."""
        files = sorted(
            glob.glob(os.path.join(self.workdir, name, "part-*.parquet"))
        )
        return self.spark.read.schema(schema).parquet(*files)

    def metrics(self) -> DataFrame:
        return self._read_log("_metrics.parquet", _METRICS_SCHEMA)

    def lineage(self) -> DataFrame:
        return self._read_log("_lineage.parquet", _LINEAGE_SCHEMA)

    def manifest(self, name: str) -> dict:
        with open(self._manifest_path(name)) as fh:
            return json.load(fh)
