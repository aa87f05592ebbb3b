"""Kill-point fault test for StageRunner's commit record (north rule: a
stage killed at ANY point of its commit resumes to identical output).

Every case writes one small stage, kills it at one point of its commit,
simulates a restart (the session catalog forgets every checkpoint table),
and resumes with different caller arguments. The resumed stage must hold
the source rows, and its layout must be the one its commit record holds —
the first write's if that write committed (a committed stage is never
rebuilt), else the resuming call's. A bucketed stage must also declare in
the catalog the bucket spec its files were written with: a declared spec
the files don't have makes Spark elide exchanges and silently mis-join.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.plans.checkpoint import (
    COMMIT,
    StageRunner,
    drop_checkpoint_tables,
)

ROWS = 200  # every one of 16 buckets receives rows
STAGE = "s"

# (bucket_key, n_buckets) of the first write, then of the resuming call
LAYOUTS = {
    "flat": ((None, 16), (None, 4)),
    "bucketed": (("id", 16), ("id", 4)),
    "flat_to_bucketed": ((None, 16), ("id", 4)),
    "bucketed_to_flat": (("id", 16), (None, 4)),
}
KILLS = ["build_raises", "no_record", "stale_tmp", "committed"]


def _source(spark):
    return spark.range(ROWS).select("id", (F.col("id") * 7 % 13).alias("v"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _strip_to_spark_commit(path: str) -> None:
    """Leave only what Spark's write committed (part files, _SUCCESS and
    their checksums): a kill after the write, before the commit record."""
    for fn in os.listdir(path):
        if fn.startswith("_") and fn != "_SUCCESS":
            os.remove(os.path.join(path, fn))


def _bucket_ids_on_disk(path: str) -> set[int]:
    return {
        int(m.group(1))
        for fn in os.listdir(path)
        if (m := re.search(r"_(\d{5})\.c\d{3}", fn)) and fn.startswith("part-")
    }


def _assert_no_hash_exchange(spark, df):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _kill(spark, wd: str, kill: str, key, n) -> None:
    """Write the stage once and stop it at ``kill``."""
    runner = StageRunner(spark, wd)
    path = os.path.join(wd, STAGE)
    if kill == "build_raises":
        # a task fails mid-write: the job aborts before Spark's commit
        def build():
            return _source(spark).withColumn(
                "v",
                F.when(F.col("id") == ROWS - 50, F.raise_error(F.lit("kill")))
                .otherwise(F.col("v")),
            )

        with pytest.raises(Exception, match="kill"):
            runner.stage(STAGE, build, bucket_key=key, n_buckets=n)
        return
    runner.stage(STAGE, lambda: _source(spark), bucket_key=key, n_buckets=n)
    if kill in ("no_record", "stale_tmp"):
        _strip_to_spark_commit(path)
    if kill == "stale_tmp":
        with open(os.path.join(path, COMMIT + ".tmp"), "w") as f:
            f.write('{"format": "parq')  # killed mid-write of the record


@pytest.mark.parametrize("kill", KILLS)
@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_kill_point_resume(spark, tmp_path, layout, kill):
    (key0, n0), (key1, n1) = LAYOUTS[layout]
    wd = str(tmp_path / "wd")
    path = os.path.join(wd, STAGE)
    try:
        _kill(spark, wd, kill, key0, n0)
        drop_checkpoint_tables(spark, wd)  # restart: the catalog forgets

        builds = []

        def build():
            builds.append(1)
            return _source(spark)

        runner = StageRunner(spark, wd)
        df = runner.stage(STAGE, build, bucket_key=key1, n_buckets=n1)
        committed = kill == "committed"
        key, n = (key0, n0) if committed else (key1, n1)

        assert _rows(df) == _rows(_source(spark))
        tbl = runner._table_name(STAGE)
        if key is None:
            assert not spark.catalog.tableExists(tbl)
        else:
            ddl = spark.sql(f"SHOW CREATE TABLE {tbl}").collect()[0][0]
            declared = int(re.search(r"INTO (\d+) BUCKETS", ddl).group(1))
            on_disk = _bucket_ids_on_disk(path)
            assert on_disk == set(range(declared)), (
                f"catalog declares {declared} buckets, files carry "
                f"{len(on_disk)}: {ddl}")
            assert declared == n and f"CLUSTERED BY ({key})" in ddl, ddl
            # joins on the recorded layout stay exchange-free and correct
            j = df.join(df.withColumnRenamed("v", "w"), key)
            _assert_no_hash_exchange(spark, j)
            assert j.count() == ROWS
        with open(os.path.join(path, COMMIT)) as f:
            rec = json.load(f)
        assert (rec["bucket_key"], rec["n_buckets"]) == (key, n if key else None)
        assert rec["rows"] == ROWS == sum(r for _, r in rec["files"])
        assert not os.path.exists(os.path.join(path, COMMIT + ".tmp"))
        # a committed stage is never rebuilt; anything else is
        assert runner.metrics[-1]["resumed"] is committed
        assert len(builds) == (0 if committed else 1)
    finally:
        drop_checkpoint_tables(spark, wd)
