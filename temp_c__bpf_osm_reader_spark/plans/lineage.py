"""Snapshot-committed pipeline with per-partition lineage + checkpoint resume.

The distributed replacement for the reference's single-transaction bulk load +
progress counters (pbf2sqlite.c:645-656 BEGIN/COMMIT; :694-701 per-10^6-row
ticks):

  * every stage writes parquet + a lineage table
    (partition_id, row_count, checksum) + a manifest JSON, committed by an
    atomic rename — readers never see a half-written stage;
  * re-running the pipeline skips stages whose manifest is committed
    (resume-from-last-committed-checkpoint, the north-rule requirement);
  * checksums are order-insensitive (sum of per-row hashes) so they are
    stable across partitioning/parallelism — the same property the tile
    assignment's byte-for-byte determinism relies on.

At cluster scale the manifest rename maps to a table-format snapshot commit
(Iceberg-style metadata swap); no Iceberg runtime jar ships in this container,
so the manifest layer is implemented directly (SURVEY §7).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet


def lineage_metrics(df: DataFrame) -> DataFrame:
    """→ (partition_id, row_count, checksum): per-partition counts + an
    order-insensitive content checksum (O1 progress-counter analogue)."""
    cols = [F.col(c) for c in df.columns]
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.hash(*cols).cast("bigint")).alias("checksum"),
        )
        .select(F.col("_pid").alias("partition_id"), "row_count", "checksum")
    )


class SnapshotPipeline:
    """run_stage(name, fn) computes fn() once, commits it as a versioned
    snapshot, and on any later run (same root) serves the current snapshot
    instead of recomputing. Iceberg-analogue surface:

      * every commit is snapshot version N with data-vN/ + manifest-vN.json;
        `CURRENT` (atomically replaced) points at the live version;
      * run_stage(..., overwrite=True) appends version N+1 — old snapshots
        stay readable (time travel: read_stage(name, version=K));
      * rollback(name, K) repoints CURRENT without touching data.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def current_version(self, name: str) -> int | None:
        p = os.path.join(self._stage_dir(name), "CURRENT")
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip())
        return None

    def _paths(self, name: str, version: int) -> tuple[str, str, str]:
        """(data dir, lineage dir, manifest file) of one snapshot version."""
        sdir = self._stage_dir(name)
        return (
            os.path.join(sdir, f"data-v{version}"),
            os.path.join(sdir, f"lineage-v{version}"),
            os.path.join(sdir, f"manifest-v{version}.json"),
        )

    def manifest(self, name: str, version: int | None = None) -> dict | None:
        v = self.current_version(name) if version is None else version
        if v is None:
            return None
        p = self._paths(name, v)[2]
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def is_committed(self, name: str) -> bool:
        return self.manifest(name) is not None

    def read_stage(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to a pinned version."""
        v = self.current_version(name) if version is None else version
        if v is None or self.manifest(name, v) is None:
            raise FileNotFoundError(f"stage {name!r} has no committed version {version!r}")
        return read_parquet(self.spark, self._paths(name, v)[0])

    def rollback(self, name: str, version: int) -> None:
        """Repoint CURRENT at an older snapshot (metadata-only, atomic)."""
        if self.manifest(name, version) is None:
            raise FileNotFoundError(f"stage {name!r} has no version {version}")
        self._set_current(name, version)

    def _versions(self, name: str) -> list[int]:
        sdir = self._stage_dir(name)
        if not os.path.isdir(sdir):
            return []
        out = []
        for fn in os.listdir(sdir):
            if fn.startswith("manifest-v") and fn.endswith(".json"):
                out.append(int(fn[len("manifest-v") : -len(".json")]))
        return out

    def _set_current(self, name: str, version: int) -> None:
        sdir = self._stage_dir(name)
        tmp = os.path.join(sdir, "CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(sdir, "CURRENT"))

    def run_stage(self, name: str, fn, overwrite: bool = False) -> DataFrame:
        cur = self.current_version(name)
        if cur is not None and not overwrite:
            return self.read_stage(name, cur)
        # next version = max existing + 1 (NOT current + 1: after a rollback
        # CURRENT points at an old snapshot and current+1 would clobber a
        # committed one, breaking time travel)
        version = 0 if cur is None else max(self._versions(name), default=cur) + 1
        os.makedirs(self._stage_dir(name), exist_ok=True)
        data_dir, lineage_dir, manifest_path = self._paths(name, version)

        t0 = time.time()
        fn().write.mode("overwrite").parquet(data_dir)

        written = read_parquet(self.spark, data_dir)
        lineage_metrics(written).write.mode("overwrite").parquet(lineage_dir)
        # manifest totals from the small lineage table just written, not a
        # second pass over the stage's data
        lineage = pq.read_table(lineage_dir, columns=["row_count", "checksum"])

        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": name,
                    "version": version,
                    "rows": int(pc.sum(lineage["row_count"]).as_py() or 0),
                    "checksum": int(pc.sum(lineage["checksum"]).as_py() or 0),
                    "n_partitions": lineage.num_rows,
                    "wall_s": round(time.time() - t0, 3),
                },
                f,
            )
        os.replace(tmp, manifest_path)  # commit the snapshot...
        self._set_current(name, version)  # ...then swap the pointer (atomic)
        return written

    def verify_stage(self, name: str, version: int | None = None) -> bool:
        """Re-derive the lineage totals from the committed data and compare
        against the manifest (count-consistency invariant, readosm.c:872-903)."""
        v = self.current_version(name) if version is None else version
        m = self.manifest(name, v)
        if m is None:
            return False
        df = read_parquet(self.spark, self._paths(name, v)[0])
        agg = lineage_metrics(df).agg(
            F.sum("row_count").alias("rows"), F.sum("checksum").alias("checksum")
        ).collect()[0]
        return int(agg["rows"] or 0) == m["rows"] and int(agg["checksum"] or 0) == m["checksum"]
