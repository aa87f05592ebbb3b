"""Checkpointed stage runner — the resume spine (north rule).

Each pipeline stage materializes to Parquet (Iceberg at cluster scale — the
writer is format-agnostic) and then commits ONE record, ``_commit.json``:
format, schema, bucket spec (or none), per-file footer row counts and the
stage metrics (rows, partitions, wall seconds). The record is written last,
to a temp file that ``os.replace`` moves into place, so it is the only
completion marker: a stage dir without it is rebuilt; a stage dir with it is
never rebuilt, and opens from the record alone — never from the caller's
current arguments. A kill at any point of a stage therefore resumes to
identical output (tests/test_checkpoint.py walks every kill point).

Stages may checkpoint BUCKETED (``bucket_key=``): the snapshot is written
``bucketBy(N, key) + sortBy(key)`` as an EXTERNAL table whose location is
the ordinary stage directory, so every downstream join/groupBy on that key
is exchange-free by layout — the shuffle is paid once at checkpoint time,
not per consumer (the 100 TB story for the kg_* joins and the pagerank
loop over a checkpointed edge table). Resume is catalog-independent: the
files outlive the session's in-memory catalog, and a fresh session
re-registers the RECORDED bucket spec with CREATE TABLE ... CLUSTERED BY
... LOCATION before reading, so the layout survives restarts too.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

COMMIT = "_commit.json"


def _table_prefix(base_dir: str) -> str:
    """Catalog-name prefix of a workdir's bucketed stages — unique per
    workdir so two concurrent runs never collide on a table name."""
    tag = hashlib.md5(os.path.abspath(base_dir).encode()).hexdigest()[:10]
    return f"chf_ck_{tag}_"


class StageRunner:
    def __init__(self, spark: SparkSession, base_dir: str, fmt: str = "parquet"):
        self.spark = spark
        self.base_dir = base_dir
        self.fmt = fmt
        self.metrics: list[dict] = []
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def is_complete(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), COMMIT))

    @staticmethod
    def _footer_lineage(path: str) -> list[tuple[str, int]]:
        """(file, num_rows) per committed part file, from columnar footers
        (parquet or ORC — both carry row counts in file metadata; an
        Iceberg snapshot exposes the identical counts in its manifest)."""
        out = []
        for fn in sorted(os.listdir(path)):
            if not fn.startswith("part-"):
                continue
            full = os.path.join(path, fn)
            if fn.endswith(".parquet"):
                import pyarrow.parquet as pq

                out.append((fn, pq.read_metadata(full).num_rows))
            elif fn.endswith(".orc"):
                import pyarrow.orc as po

                out.append((fn, po.ORCFile(full).nrows))
        return out

    def _table_name(self, name: str) -> str:
        return _table_prefix(self.base_dir) + name.lower()

    def _open(self, name: str, rec: dict) -> DataFrame:
        """The committed snapshot, laid out exactly as ``rec`` records it.

        The recorded schema skips Spark's schema-inference job. A bucketed
        record re-registers its spec if this session's catalog has never
        seen it (resume after restart — the files carry no bucket metadata,
        the catalog does)."""
        path = self._path(name)
        schema = StructType.fromJson(json.loads(rec["schema"]))
        key = rec["bucket_key"]
        if key is None:
            return self.spark.read.schema(schema).format(rec["format"]).load(path)
        tbl = self._table_name(name)
        if not self.spark.catalog.tableExists(tbl):
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            self.spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING {rec['format']} "
                f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
                f"INTO {rec['n_buckets']} BUCKETS LOCATION '{path}'"
            )
        return self.spark.table(tbl)

    def stage(self, name: str, build: Callable[[], DataFrame],
              bucket_key: str | None = None, n_buckets: int = 8) -> DataFrame:
        """Run (or resume) one stage; returns the materialized DataFrame.

        ``bucket_key`` switches the snapshot to the bucketed layout:
        downstream joins/groupBys on that key read it exchange-free. It
        applies to a build only — a committed stage keeps its layout."""
        path = self._path(name)
        t0 = time.time()
        if self.is_complete(name):
            with open(os.path.join(path, COMMIT)) as f:
                df = self._open(name, json.load(f))
            self.metrics.append(
                {"stage": name, "resumed": True, "seconds": round(time.time() - t0, 3)}
            )
            return df
        df = build()
        if bucket_key is not None:
            tbl = self._table_name(name)
            # external table: DROP forgets the spec but keeps files; the
            # uncommitted dir is ours to clear (same overwrite semantics
            # as the flat path)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(path, ignore_errors=True)
            (
                # one output file per bucket — without the repartition a
                # bucketed write emits up to tasks×buckets files
                df.repartition(n_buckets, bucket_key)
                .write.format(self.fmt)
                .mode("overwrite")
                .bucketBy(n_buckets, bucket_key)
                .sortBy(bucket_key)
                .option("path", path)
                .saveAsTable(tbl)
            )
        else:
            df.write.mode("overwrite").format(self.fmt).save(path)
        # per-partition lineage counters from the columnar footers — pure
        # metadata reads on the driver, zero extra Spark jobs per stage
        lineage = self._footer_lineage(path)
        rec = {
            "format": self.fmt,
            "schema": df.schema.json(),
            "bucket_key": bucket_key,
            "n_buckets": n_buckets if bucket_key is not None else None,
            "files": lineage,
            "rows": sum(r for _, r in lineage),
            "partitions": len(lineage),
            "seconds": round(time.time() - t0, 3),
        }
        tmp = os.path.join(path, COMMIT + ".tmp")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, os.path.join(path, COMMIT))
        row = {"stage": name, "resumed": False, "rows": rec["rows"],
               "partitions": rec["partitions"], "seconds": rec["seconds"]}
        if bucket_key is not None:
            row.update(bucketed_by=bucket_key, n_buckets=n_buckets)
        self.metrics.append(row)
        return self._open(name, rec)

    def write_run_metrics(self) -> str:
        p = os.path.join(self.base_dir, "run_metrics.json")
        with open(p, "w") as f:
            json.dump(self.metrics, f, indent=2)
        return p


def drop_checkpoint_tables(spark: SparkSession, base_dir: str) -> int:
    """Drop every ``chf_ck_<tag>_*`` catalog entry this workdir's bucketed
    stages registered (EXTERNAL tables — files are untouched). Call before
    deleting a workdir inside a live session; otherwise the entries dangle
    at a removed location and any later catalog enumeration that reads
    them fails. Returns the number of tables dropped."""
    prefix = _table_prefix(base_dir)
    n = 0
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix) and not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            n += 1
    return n
