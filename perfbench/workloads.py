"""The benchmark's workloads.

Each workload drives the package's public entry points from outside, in
one closed loop with one client: an operation starts when the previous one
has completed. ``setup`` brings the session to a warm state (that time is
``setup_s``), ``round`` runs one timed round, ``check`` compares the
outputs against independent references outside the timed region.

Every workload reports ``op_s`` (median time of its operation) and
``tail_s`` (its follow-up operation); ``op_name`` and ``tail_name`` are
the names the record gives them (README.md maps them to the pipeline /
ingest metrics they stand for).

``QuerySweep`` runs the query mix once cold and once warm after a traced
run's timed region, for the per-layer figures of ``queries``.
"""

from __future__ import annotations

import logging
import math
import os
import re
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

from concept_hierarchy_formation_in_property_graphs_spark import queries
from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
    generate_pages,
    pages_spark_df_distributed,
)
from concept_hierarchy_formation_in_property_graphs_spark.fixtures.synthetic_labels import (
    generate_labels,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators import (
    concepts as concepts_mod,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
    hierarchy_from_state_dir,
    merge_batch_into_state,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.checkpoint import (
    StageRunner,
    drop_checkpoint_tables,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
    run_pipeline,
)
from concept_hierarchy_formation_in_property_graphs_spark.sources.tables import (
    read_pages,
)

import datagen
from tracing import QUERIES, Tracer


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def rows(df) -> list[tuple]:
    """A DataFrame's rows as sorted tuples (arrays as tuples)."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


class _BranchLog(logging.Handler):
    """Counts the concepts module's 'using the distributed branch' notes."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.count = 0

    def emit(self, record: logging.LogRecord) -> None:
        if "distributed branch" in record.getMessage():
            self.count += 1


class Workload:
    name = ""
    op_name = tail_name = ""  # op_s and tail_s in the record
    query_sweep = False  # the traced run sweeps the query mix afterwards

    def __init__(self, spark: SparkSession, work: str, seed: int, cpus: int):
        self.spark, self.work, self.seed, self.cpus = spark, work, seed, cpus
        self.tracer = Tracer()  # set-up and checks are never traced
        self.op_times: list[float] = []
        self.tail_times: list[float] = []
        self.rounds = 0
        self.ops = 0  # public calls timed
        self.layer: dict[str, float] = {}  # per-layer figures not in the event log
        self.info: dict = {}  # sizes and named metrics for the record
        self._branch = _BranchLog()
        log = logging.getLogger(concepts_mod.__name__)
        log.addHandler(self._branch)
        log.setLevel(logging.INFO)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> None:
        raise NotImplementedError

    def check(self) -> dict[str, bool]:
        raise NotImplementedError

    def run(self, seconds: float, tracer: Tracer) -> None:
        """Timed rounds until ``seconds`` have passed (at least one), with
        ``tracer`` recording spans."""
        self._branch.count = 0
        self.tracer = tracer
        t0 = time.perf_counter()
        while self.rounds == 0 or time.perf_counter() - t0 < seconds:
            self.round()
            self.rounds += 1
        self.tracer = Tracer()
        self.layer["operators.concepts.distributed_branch"] = (
            self._branch.count / self.rounds)

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_s": statistics.median(self.op_times),
            "tail_s": statistics.median(self.tail_times),
        }


@contextmanager
def traced_stages(tracer: Tracer):
    """Each ``StageRunner.stage`` call inside a span named after its stage."""
    if not tracer.enabled:
        yield
        return
    orig = StageRunner.stage

    def stage(self, name, build, **kwargs):
        with tracer.span(name):
            return orig(self, name, build, **kwargs)

    StageRunner.stage = stage
    try:
        yield
    finally:
        StageRunner.stage = orig


class PipelineSmall(Workload):
    """4,000 pages → S1–S6, then resume passes after a simulated kill."""

    name = "pipeline_small"
    op_name, tail_name = "pipeline_s", "resume_s"
    N_PAGES, N_ENTITIES = 4000, 500
    RESUMES = 2  # kill-and-resume passes per round
    RESUMED_FROM = ("s5_struct_features", "s5_char_sets", "s6_concepts",
                    "s6_assignments")

    def _pipeline(self, pages_path: str, wd: str) -> dict:
        with self.tracer.span("read_pages"):
            pages = read_pages(self.spark, pages_path)
        out = run_pipeline(self.spark, pages, wd, n_entities=self.N_ENTITIES)
        out["n_triples"] = out["triples"].count()
        out["n_concepts"] = out["concepts"].count()
        return out

    def _kill_after_s4(self, wd: str) -> None:
        """Lose S5/S6 and the catalog, as a kill after S4 plus a restart."""
        for stage in self.RESUMED_FROM:
            shutil.rmtree(os.path.join(wd, stage))
        drop_checkpoint_tables(self.spark, wd)

    def _discard(self, wd: str) -> None:
        drop_checkpoint_tables(self.spark, wd)
        shutil.rmtree(wd)

    def setup(self) -> None:
        self.pages_path = os.path.join(self.work, "pages")
        pages_spark_df_distributed(
            self.spark, self.N_PAGES, self.N_ENTITIES, seed=self.seed,
            partitions=self.cpus,
        ).write.parquet(self.pages_path)
        # a run and a resume over the same corpus in a throwaway workdir
        # compile every query plan the timed round runs and spawn the Arrow
        # worker pool
        wd = os.path.join(self.work, "wd_cold")
        t0 = time.perf_counter()
        self._pipeline(self.pages_path, wd)
        t1 = time.perf_counter()
        self.layer["session.cold_pipeline_s"] = t1 - t0
        self._kill_after_s4(wd)
        self._pipeline(self.pages_path, wd)
        self.layer["session.warmup_s"] = time.perf_counter() - t1
        self._discard(wd)

    def round(self) -> None:
        wd = os.path.join(self.work, f"wd_{self.rounds}")
        with traced_stages(self.tracer):
            t0 = time.perf_counter()
            with self.tracer.span("op:pipeline"):
                out = self._pipeline(self.pages_path, wd)
            self.op_times.append(time.perf_counter() - t0)
        self.layer["plans.checkpoint.snapshot_mb"] = sum(
            dir_mb(os.path.join(wd, s)) for s in os.listdir(wd)
            if os.path.isdir(os.path.join(wd, s)))
        self.layer["operators.concepts.concepts_out"] = out["n_concepts"]
        full_s6 = (rows(out["concepts"]), rows(out["assignments"]))
        for _ in range(self.RESUMES):
            self._kill_after_s4(wd)
            with traced_stages(self.tracer):
                t0 = time.perf_counter()
                with self.tracer.span("op:resume"):
                    resumed = self._pipeline(self.pages_path, wd)
                self.tail_times.append(time.perf_counter() - t0)
        self.ops += 1 + self.RESUMES
        self.layer["plans.checkpoint.stages_resumed"] = sum(
            1 for m in resumed["metrics"] if m.get("resumed"))
        if self.rounds > 0:
            self._discard(self.last_wd)
        self.last_wd, self.last = wd, (out, resumed, full_s6)

    def check(self) -> dict[str, bool]:
        out, resumed, full_s6 = self.last
        pages, exp_text, exp_triples = generate_pages(
            self.N_PAGES, self.N_ENTITIES, seed=self.seed)
        english = set(pages.loc[pages["lang"] == "en", "url"])
        got = set(map(tuple, out["triples"].collect()))
        exp = set(map(tuple, exp_triples.itertuples(index=False)))
        tp = len(got & exp)
        precision, recall = tp / max(len(got), 1), tp / max(len(exp), 1)
        text = dict(resumed["text"].select("url", "text").collect())
        expected = dict(zip(exp_text["url"], exp_text["text"]))
        violations = concepts_mod.invariant_violations(
            resumed["concepts"], resumed["assignments"])
        self.info.update(
            pages=self.N_PAGES, entities=self.N_ENTITIES, content_scale=1,
            triples=len(got), concepts=out["n_concepts"],
            triple_precision=precision, triple_recall=recall,
            invariant_violations=violations)
        checks = {
            "triple_precision>=0.95": precision >= 0.95,
            "triple_recall>=0.95": recall >= 0.95,
            "text_matches_extract_text_py": set(text) == english and all(
                expected[u] == t for u, t in text.items()),
            "invariants_zero": not any(violations.values()),
            "resumed_s6_equals_full": full_s6 == (
                rows(resumed["concepts"]), rows(resumed["assignments"])),
        }
        self._discard(self.last_wd)
        return checks


class HierarchyIngest(Workload):
    """The reference's synthetic-label corpus, ingested batch by batch."""

    name = "hierarchy_ingest"
    op_name, tail_name = "ingest_batch_s", "ingest_last_batches_s"
    query_sweep = True
    WIDTH, DEPTH, ITERATIONS, NOISE, BATCHES = 5, 5, 8, 0.2, 10

    def _ingest(self, b: int, state: str) -> dict:
        batch = self.spark.read.parquet(self.batch_paths[b])
        with self.tracer.span("merge_batch_into_state"):
            merge_batch_into_state(batch, b, state)
        with self.tracer.span("hierarchy_from_state_dir"):
            out = hierarchy_from_state_dir(self.spark, state)
            out["n_concepts"] = out["concepts"].count()
            out["assignments"].count()
        return out

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        records, _, _ = generate_labels(
            self.WIDTH, self.DEPTH, self.ITERATIONS, self.NOISE, seed=self.seed)
        size = len(records) // self.BATCHES
        self.batch_paths = []
        for b in range(self.BATCHES):
            part = records[b * size:(b + 1) * size]
            path = os.path.join(self.work, "batches", f"b{b}")
            os.makedirs(path)
            pq.write_table(pa.table({
                "instance_id": [str(i) for i, _ in part],
                "intent": [labels for _, labels in part],
            }), os.path.join(path, "part-0.parquet"))
            self.batch_paths.append(path)
        self.info.update(records=size * self.BATCHES, batches=self.BATCHES,
                         distinct_intents=len({tuple(sorted(set(labels)))
                                               for _, labels in records}))
        # warm-up: into a throwaway state, a first batch and one merged
        # into existing state, the two paths the timed round takes
        t0 = time.perf_counter()
        for b in range(2):
            self._ingest(b, os.path.join(self.work, "state_cold"))
        self.layer["session.warmup_s"] = time.perf_counter() - t0

    def round(self) -> None:
        state = os.path.join(self.work, f"state_{self.rounds}")
        for b in range(self.BATCHES):
            t0 = time.perf_counter()
            out = self._ingest(b, state)
            self.op_times.append(time.perf_counter() - t0)
        times = self.op_times[-self.BATCHES:]
        # the batches with the largest state; the median of three is steadier
        # than the last batch alone, which the record also keeps
        self.tail_times.append(statistics.median(times[-3:]))
        self.info["last_batch_s"] = times[-1]
        self.ops += self.BATCHES
        self.layer["operators.streaming.state_mb"] = dir_mb(state)
        self.layer["operators.concepts.concepts_out"] = out["n_concepts"]
        self.last = out

    def check(self) -> dict[str, bool]:
        union = self.spark.read.parquet(*self.batch_paths)
        batch = concepts_mod.build_hierarchy(union)
        self.info["concepts"] = self.last["n_concepts"]
        return {
            "ingest_equals_batch_build": (
                rows(self.last["concepts"]) == rows(batch["concepts"])
                and rows(self.last["assignments"]) == rows(batch["assignments"])
            ),
        }


# a CTE definition: its name after WITH [RECURSIVE] or a comma
_CTE = re.compile(r"((?:\bWITH(?:\s+RECURSIVE)?|,)\s*)([A-Za-z_]\w*) AS \(")


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 9)
        return 0.0 if r == 0 else r
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _multiset(cols: list[str], rs) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_norm_cell(r[i]) for i in order) for r in rs))


# Outputs rounded to 4 decimals may differ by one unit in the last place:
# the two engines sum in different orders and can land on either side of
# a rounding tie.
FLOAT_TOL = 1.0001e-4


def _same(a: tuple[list[str], list[tuple]], b: tuple[list[str], list[tuple]]) -> bool:
    (cols_a, rows_a), (cols_b, rows_b) = a, b
    if cols_a != cols_b or len(rows_a) != len(rows_b):
        return False
    for ra, rb in zip(rows_a, rows_b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > FLOAT_TOL:
                    return False
            elif x != y:
                return False
    return True


class QuerySweep:
    """The query mix over seeded tables: one cold sweep that fills the
    per-session memo caches, then one warm sweep inside spans named after
    the queries, every result collected."""

    SCALE = 0.01

    def __init__(self, spark: SparkSession, work: str, seed: int, cpus: int):
        self.spark, self.seed, self.cpus = spark, seed, cpus
        self.sf_dir = os.path.join(work, "sf")

    def _sweep(self, tracer: Tracer) -> dict[str, tuple[float, tuple]]:
        reg = queries.registry()
        out = {}
        for q in QUERIES:
            t0 = time.perf_counter()
            with tracer.span(q):
                df = reg[q](self.spark, self.sf_dir)
                result = (df.columns, df.collect())
            out[q] = (time.perf_counter() - t0, result)
        return out

    def run(self, tracer: Tracer) -> float:
        """Both sweeps, the warm one traced; returns the cold sweep's time."""
        datagen.write_tables(self.sf_dir, self.SCALE, self.seed)
        t0 = time.perf_counter()
        self._sweep(Tracer())
        cold = time.perf_counter() - t0
        self.last = self._sweep(tracer)
        self.warm_s = sum(t for t, _ in self.last.values())
        return cold

    def check(self) -> dict[str, bool]:
        import duckdb

        con = duckdb.connect(config={"memory_limit": "1GB",
                                     "threads": str(self.cpus)})
        for name in os.listdir(self.sf_dir):
            table = name.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, name)}'")
        oracles = queries.oracles()
        checks = {}
        for q in QUERIES:
            # MATERIALIZED only changes how DuckDB evaluates the CTEs: the
            # unrolled iteration CTEs are otherwise inlined exponentially
            sql = _CTE.sub(r"\1\2 AS MATERIALIZED (", oracles[q])
            res = con.sql(sql)
            expected = _multiset([d[0] for d in res.description], res.fetchall())
            cols, got = self.last[q][1]
            checks[f"{q}_matches_oracle"] = _same(_multiset(cols, got), expected)
        con.close()
        return checks


WORKLOADS = {w.name: w for w in (PipelineSmall, HierarchyIngest)}
