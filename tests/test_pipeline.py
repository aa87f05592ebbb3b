"""End-to-end gates (north rule): triple P/R >= 0.95 vs planted truth,
tree invariants, determinism across partition counts, checkpoint resume
with identical final output.

One full pipeline run is shared across the P/R and resume tests (module
fixture); determinism uses a smaller corpus at two partition counts.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
    generate_pages,
    pages_spark_df,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    invariant_violations,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
    run_pipeline,
)

N_PAGES = 120
N_ENT = 60


@pytest.fixture(scope="module")
def pipeline_run(spark):
    wd = tempfile.mkdtemp(prefix="chf_e2e_")
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    out = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    yield wd, out
    shutil.rmtree(wd, ignore_errors=True)


def test_pipeline_precision_recall_and_invariants(spark, pipeline_run):
    _, out = pipeline_run
    _, _, expected = generate_pages(N_PAGES, N_ENT)
    got = set(map(tuple, out["triples"].collect()))
    exp = set(map(tuple, expected.itertuples(index=False)))
    tp = len(got & exp)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(exp), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    assert invariant_violations(out["concepts"], out["assignments"]) == {
        "dup_instance": 0,
        "assign_to_inner": 0,
        "orphans": 0,
        "partition_counts": 0,
    }
    # leaf-count invariant (ProcTest L134): every graph node assigned once
    assert out["assignments"].count() == out["nodes"].count()


def test_resume_after_partial_failure_identical_output(spark, pipeline_run):
    wd, out1 = pipeline_run
    final1 = sorted(map(tuple, out1["concepts"].drop("intent").collect()))
    # simulate a crash after S5: wipe the last two stages
    shutil.rmtree(wd + "/s6_concepts")
    shutil.rmtree(wd + "/s6_assignments")
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    out2 = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    resumed = {m["stage"] for m in out2["metrics"] if m.get("resumed")}
    assert "s1_text" in resumed and "s3_triples" in resumed
    assert "s6_concepts" not in resumed  # was wiped -> recomputed
    final2 = sorted(map(tuple, out2["concepts"].drop("intent").collect()))
    assert final1 == final2
    # per-partition lineage is committed for recomputed stages
    with open(wd + "/s6_concepts/_commit.json") as f:
        files = json.load(f)["files"]
    assert files and sum(n for _, n in files) == len(final2)


def test_pipeline_deterministic_across_partition_counts(spark):
    wd1 = tempfile.mkdtemp(prefix="chf_det1_")
    wd2 = tempfile.mkdtemp(prefix="chf_det2_")
    try:
        p1 = pages_spark_df(spark, 60, n_entities=40, partitions=3)
        p2 = pages_spark_df(spark, 60, n_entities=40, partitions=17)
        t1 = sorted(map(tuple, run_pipeline(spark, p1, wd1, n_entities=40)["triples"].collect()))
        t2 = sorted(map(tuple, run_pipeline(spark, p2, wd2, n_entities=40)["triples"].collect()))
        assert t1 == t2
    finally:
        shutil.rmtree(wd1, ignore_errors=True)
        shutil.rmtree(wd2, ignore_errors=True)


def test_open_vocab_canonicalization(spark):
    """Out-of-gazetteer surfaces flow through MinHash-LSH + CC and collapse
    aliases to one canonical form (the north-star S3 path)."""
    wd = tempfile.mkdtemp(prefix="chf_ov_")
    try:
        # pages embed 60 entities; the pipeline only knows the first 45
        # (240 pages keep every unknown entity observed with both aliases
        # while halving this — the suite's slowest — test's wall time)
        pages = pages_spark_df(spark, 240, n_entities=60)
        out = run_pipeline(spark, pages, wd, n_entities=45, open_vocab=True,
                           mention_entities=60)
        links = {r["surface"]: r["canonical"]
                 for r in spark.read.parquet(wd + "/s3_links").collect()}
        # some unknown entity with both long aliases seen in the corpus
        # must collapse to one canonical via CC
        candidates = [
            (f"Acme{k} Corporation", f"Acme{k} Corp.") for k in range(45, 60)
        ] + [
            (f"Konstanz{k} University", f"Konstanz{k} Univ.") for k in range(45, 60)
        ]
        pairs = [(a, b) for a, b in candidates if a in links and b in links]
        assert pairs, "corpus too small: no unknown alias pair observed"
        for a, b in pairs:
            assert links[a] == links[b], (a, b)
        # known entities keep their gazetteer canonical
        assert links["Acme0 Corp."] == "Acme0 Corporation"
        # triples still flow and reference canonical forms only
        triples = out["triples"]
        assert triples.count() > 0
        surf = {r["canonical"] for r in spark.read.parquet(wd + "/s3_links").collect()}
        bad = triples.where(~triples.subj.isin(list(surf))).count()
        assert bad == 0
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_pipeline_orc_format_end_to_end_with_resume(spark):
    """The StageRunner writer is format-agnostic (Iceberg at cluster
    scale); prove the non-parquet seam actually works by running the full
    pipeline on ORC: same triples as parquet, footer lineage populated,
    and stage resume honoured after wiping the last stage."""
    wd = tempfile.mkdtemp(prefix="chf_orc_")
    try:
        pages = pages_spark_df(spark, 60, n_entities=30)
        out = run_pipeline(spark, pages, wd, n_entities=30, fmt="orc")
        got = set(map(tuple, out["triples"].collect()))
        assert got, "orc pipeline produced no triples"
        # lineage counters came from ORC footers, not parquet
        import glob

        records = [json.load(open(c))
                   for c in glob.glob(os.path.join(wd, "*", "_commit.json"))]
        assert records and all(r["format"] == "orc" for r in records)
        assert sum(n for r in records for _, n in r["files"]) > 0
        assert glob.glob(os.path.join(wd, "s3_triples", "part-*.orc"))

        wdp = tempfile.mkdtemp(prefix="chf_par_")
        try:
            out_p = run_pipeline(spark, pages, wdp, n_entities=30)
            assert got == set(map(tuple, out_p["triples"].collect()))
        finally:
            shutil.rmtree(wdp, ignore_errors=True)

        shutil.rmtree(os.path.join(wd, "s6_concepts"))
        out2 = run_pipeline(spark, pages, wd, n_entities=30, fmt="orc")
        resumed = [m["stage"] for m in out2["metrics"] if m.get("resumed")]
        assert "s3_triples" in resumed and "s6_concepts" not in resumed
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_iceberg_read_surfaces_real_error_without_fallback(spark):
    """No Iceberg jar in the sandbox: read_pages must chain the REAL
    loader failure (not swallow it) when no parquet fallback exists, and
    still fall back cleanly when one does."""
    from concept_hierarchy_formation_in_property_graphs_spark.sources.tables import (
        read_pages,
    )

    with pytest.raises(RuntimeError, match="Iceberg read") as ei:
        read_pages(spark, iceberg_table="db.pages")
    assert ei.value.__cause__ is not None  # the Spark loader error is chained


def _assert_no_hash_exchange(spark, df):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_checkpoints_zero_exchange(spark, pipeline_run):
    """r4 carry-over task 5: the pipeline checkpoints the graph stages
    bucketBy(node id), and a downstream join of two checkpoints on the
    bucket key plans with ZERO hash exchanges.

    Earlier tests may rewrite fixture stage dirs (resume test), which
    stales the fixture's DataFrame handles — so this test re-resumes the
    fixture workdir for fresh handles instead of reusing them."""
    wd, _ = pipeline_run
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    out = run_pipeline(spark, pages, wd, n_entities=N_ENT)  # all resumed
    # bucket specs were recorded at original build time, per stage dir
    expected = {
        "s4_nodes": "id", "s4_edges": "src",
        "s5_struct_features": "id", "s5_char_sets": "id",
        "s6_assignments": "instance_id",
    }
    for stage, key in expected.items():
        with open(os.path.join(wd, stage, "_commit.json")) as f:
            rec = json.load(f)
        assert rec["bucket_key"] == key, (stage, rec)
    # features ⋈ intents on id — both bucketed by id — no exchange
    j = out["struct_features"].join(out["intents"], "id")
    _assert_no_hash_exchange(spark, j)
    assert j.count() == out["intents"].count()


def test_bucketed_resume_survives_catalog_loss(spark, pipeline_run):
    """Bucketed snapshots resume catalog-independently: drop every
    checkpoint table (a fresh session's in-memory catalog), rerun on the
    same workdir — every stage resumes from disk and the re-registered
    bucket spec still yields exchange-free joins."""
    wd, _ = pipeline_run
    for t in spark.catalog.listTables():
        if t.name.startswith("chf_ck_"):
            spark.sql(f"DROP TABLE {t.name}")
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    out2 = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    resumed = {m["stage"] for m in out2["metrics"] if m.get("resumed")}
    assert {"s4_edges", "s5_struct_features", "s5_char_sets"} <= resumed
    j = out2["struct_features"].join(out2["intents"], "id")
    _assert_no_hash_exchange(spark, j)
    # sanity: the re-registered table reads the committed snapshot
    n_disk = spark.read.parquet(os.path.join(wd, "s5_char_sets")).count()
    assert out2["intents"].count() == n_disk > 0


def test_drop_checkpoint_tables_scoped_to_workdir(spark, pipeline_run):
    """drop_checkpoint_tables removes exactly this workdir's chf_ck_*
    catalog entries (so callers can rmtree a tempdir without leaving
    dangling external tables) and never touches another workdir's."""
    from concept_hierarchy_formation_in_property_graphs_spark.plans.checkpoint import (
        drop_checkpoint_tables,
    )

    wd, _ = pipeline_run
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    run_pipeline(spark, pages, wd, n_entities=N_ENT)  # ensure registered
    wd2 = tempfile.mkdtemp(prefix="chf_drop_")
    try:
        run_pipeline(spark, pages, wd2, n_entities=N_ENT)
        before = {t.name for t in spark.catalog.listTables()
                  if t.name.startswith("chf_ck_")}
        n = drop_checkpoint_tables(spark, wd2)
        after = {t.name for t in spark.catalog.listTables()
                 if t.name.startswith("chf_ck_")}
        assert n == len(before) - len(after) > 0
        removed = before - after
        import hashlib as _hl
        tag2 = _hl.md5(os.path.abspath(wd2).encode()).hexdigest()[:10]
        assert all(name.startswith(f"chf_ck_{tag2}_") for name in removed)
        # the OTHER workdir's tables survive and still resume cleanly
        out = run_pipeline(spark, pages, wd, n_entities=N_ENT)
        assert all(m.get("resumed") for m in out["metrics"])
    finally:
        drop_checkpoint_tables(spark, wd2)
        shutil.rmtree(wd2, ignore_errors=True)
